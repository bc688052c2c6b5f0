"""Seeded benchmark inputs, generated by the benchmark's own code.

Nothing here calls into ``streamvbyte_spark``: a change to the package's
sources or generators cannot silently change a workload.  Every table is a
pure function of ``(seed, size)`` and is written once per key into the
input cache; later runs with the same key read the cached parquet.

Two tables:

* ``tokens`` — the ``bulk_codec`` table in the five FIXTURES.md families
  (token_zipf, rand_shifted, near_sorted_gap, zero_heavy, small-domain
  runs), family chosen round-robin by row, lengths uniform in
  ``[avg_len/2, 2*avg_len)``, sources web/code/rare at 80/15/5 %.
* ``documents`` — the ``curate_pack`` / ``index_serving`` corpus, shaped
  like the reference ``documents`` table: 20 sources of equal size (the
  lexicographically smallest, ``src0``, is the eval source the curation
  decontaminates against), 10-100 words from a 30-word vocabulary, a few
  exact-duplicate texts across sources (the md5 dedup groups) and ~5 %
  near-duplicates marked with the word ``dup``.  ``doc_id`` is a seeded
  permutation of ``0..n_docs-1``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAMILIES = ("token_zipf", "rand_shifted", "near_sorted_gap", "zero_heavy",
            "small_runs")
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
N_EXACT_DUPS = 8
NEAR_DUP_FRAC = 0.05


def _family_values(fam: int, rng: np.random.Generator,
                   lens: np.ndarray) -> np.ndarray:
    """Concatenated uint32 values of every row of one family."""
    n = int(lens.sum())
    if fam == 0:  # token_zipf: LLM-like token ids over a GPT-2-sized vocab
        return (rng.zipf(1.1, size=n) % 50257).astype(np.uint32)
    if fam == 1:  # rand_shifted: the reference perf mix of 1-4 byte values
        r = rng.integers(0, 2**31, size=n, dtype=np.uint64)
        return (r >> rng.integers(0, 32, size=n, dtype=np.uint64)) \
            .astype(np.uint32)
    if fam == 2:  # near_sorted_gap: per-row running sum of gap-1 + [0, 8)
        gap = 3 ** rng.integers(0, 12, size=lens.size).astype(np.int64)
        step = rng.integers(0, 8, size=n).astype(np.int64) \
            + np.repeat(gap - 1, lens)
        cs = np.cumsum(step)
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        base = np.where(starts > 0, cs[np.maximum(starts - 1, 0)], 0)
        return ((cs - np.repeat(base, lens)) & 0xFFFFFFFF).astype(np.uint32)
    if fam == 3:  # zero_heavy: 70 % zeros, the rest uniform token ids
        return np.where(rng.random(n) < 0.7, 0,
                        rng.integers(0, 50257, n)).astype(np.uint32)
    # small_runs: values < 30 repeated in runs of 6
    runs = rng.integers(0, 30, size=(n + 5) // 6)
    return np.repeat(runs, 6)[:n].astype(np.uint32)


def generate_tokens(seed: int, n_docs: int, avg_len: int) -> pa.Table:
    """(doc_id, tokens array<int32>, n_tok, source, family) for bulk_codec."""
    rng = np.random.default_rng([seed, 1])
    lens = rng.integers(avg_len // 2, avg_len * 2, size=n_docs)
    fam = np.arange(n_docs) % len(FAMILIES)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.empty(int(offsets[-1]), dtype=np.uint32)
    for f in range(len(FAMILIES)):
        rows = np.flatnonzero(fam == f)
        vals = _family_values(f, rng, lens[rows])
        # rows of one family are strided, so place each row's slice
        dst = np.repeat(offsets[rows], lens[rows]) + (
            np.arange(vals.size) - np.repeat(
                np.concatenate([[0], np.cumsum(lens[rows])[:-1]]),
                lens[rows]))
        flat[dst] = vals
    u = rng.random(n_docs)
    source = np.where(u < 0.8, "web", np.where(u < 0.95, "code", "rare"))
    tokens = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                      pa.array(flat.view(np.int32)))
    return pa.table({
        "doc_id": pa.array([f"doc{i:08d}" for i in range(n_docs)]),
        "tokens": tokens,
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array(source),
        "family": pa.array(np.asarray(FAMILIES)[fam]),
    })


def generate_documents(seed: int, n_docs: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars) shaped like the reference
    documents table; see the module docstring."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, size=n_docs)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), size=lens.sum())]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lens)]
    source = [f"src{i % N_SOURCES}" for i in range(n_docs)]
    # near-duplicates: copy another doc's text, swap one word for "dup"
    near = rng.choice(n_docs, size=int(NEAR_DUP_FRAC * n_docs),
                      replace=False)
    for i in near:
        w = texts[int(rng.integers(0, n_docs))].split(" ")
        w[int(rng.integers(0, len(w)))] = "dup"
        texts[i] = " ".join(w)
    # exact duplicates across two sources (the md5 dedup groups)
    pairs = rng.choice(n_docs, size=2 * N_EXACT_DUPS, replace=False)
    for a, b in pairs.reshape(-1, 2):
        texts[b] = texts[a]
    # a fixed id range: the index wire's size depends on the id magnitude
    doc_id = rng.permutation(n_docs)
    lang = np.asarray(LANGS)[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(doc_id.astype(np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def cached(cache_dir: str, name: str, key: dict, filename: str,
           make) -> str:
    """Path of ``<cache_dir>/<name>-<key>/<filename>``, generating it with
    ``make()`` on a miss.  The write goes to a temporary name and is
    renamed into place, so an interrupted run never leaves a partial
    table behind."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(key.items()))
    d = os.path.join(cache_dir, f"{name}-{tag}")
    path = os.path.join(d, filename)
    if os.path.exists(path):
        return path
    os.makedirs(d, exist_ok=True)
    table = make()
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(table, tmp, row_group_size=16384)
    os.replace(tmp, path)
    with open(os.path.join(d, "key.json"), "w") as f:
        json.dump({"name": name, **key, "rows": table.num_rows}, f)
    return path
