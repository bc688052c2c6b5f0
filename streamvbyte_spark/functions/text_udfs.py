"""Arrow-vectorized text-analysis math for the dedup queries.

``dedup_simhash`` needs a 32-bit SimHash per document whose BIGINT value is
identical to the DuckDB oracle's SQL fold.  The SQL formulation on the Spark
side was 32 separate ``aggregate(tokens, ...)`` lambdas — one interpreted
CodegenFallback pass over the full token array PER BIT (the exact anti-pattern
CLAUDE.md forbids in hot paths; ~32x the cost of one vectorized pass).  This
pandas UDF computes the identical integers as one numpy bit-matrix reduction
per Arrow batch, mirroring how ``embedding_udfs`` replaced the
``aggregate(zip_with(...))`` dot products.

Definition (functions/pipeline_sql.q_dedup_simhash, both dialects):
  h(t)    = (SIMHASH_A * t + SIMHASH_B) mod MINHASH_P          (exact BIGINT)
  bit_k   = 1  iff  sum over tokens of (2 * bit_k(h(t)) - 1) > 0
  simhash = sum over k of bit_k << k,   k in [0, SIMHASH_BITS)

All intermediates fit int64: SIMHASH_A * t < 2^63 for int32 tokens, and the
per-bit vote sum is bounded by n_tok.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..arrow_rows import binary_flat, list_flat
# pipeline_sql is the single source of truth for the constants (the DuckDB
# oracle renders the same numbers as SQL text)
from .pipeline_sql import MINHASH_P as SIMHASH_P
from .pipeline_sql import SIMHASH_A, SIMHASH_B, SIMHASH_BITS

_BIT_WEIGHTS = (np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64))
_BIT_SHIFTS = np.arange(SIMHASH_BITS, dtype=np.int64)


def simhash_batch(lens: np.ndarray, flat: np.ndarray) -> np.ndarray:
    """SimHash per row over flattened tokens (int64[R] out).

    Rows with zero tokens hash to 0 (every bit's vote sum is 0, not > 0) —
    the same value the SQL fold produces for an empty array."""
    R = lens.size
    out = np.zeros(R, dtype=np.int64)
    if flat.size == 0:
        return out
    offsets = np.zeros(R + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    h = (SIMHASH_A * flat.astype(np.int64) + SIMHASH_B) % SIMHASH_P
    # (32, V) vote matrix in int8 (+1 / -1), one CONTIGUOUS row per bit.
    # The broadcast form ((h[:, None] >> shifts) & 1) materializes (V, 32)
    # int64 temporaries (~256 B/token transient); a per-bit loop writing
    # COLUMNS of a (V, 32) array is far worse still (32-byte-strided
    # scatter per element — measured ~20x slower than this layout).  Here
    # each pass peaks at one V-sized int64 temp and writes sequentially.
    votes = np.empty((SIMHASH_BITS, h.size), dtype=np.int8)
    for k in range(SIMHASH_BITS):
        np.copyto(votes[k], (h >> k) & 1, casting="unsafe")
    votes *= 2
    votes -= 1
    starts = offsets[:-1]
    nonempty = offsets[1:] > starts
    if not nonempty.any():
        return out
    sums = np.add.reduceat(votes, starts[nonempty], axis=1, dtype=np.int64)
    out[nonempty] = _BIT_WEIGHTS @ (sums > 0)
    return out


@pandas_udf(LongType())
def doc_simhash(tokens: pd.Series) -> pd.Series:
    flat, offsets = list_flat(pa.array(tokens, pa.list_(pa.int64())))
    return pd.Series(simhash_batch(np.diff(offsets), flat))


# --------------------------------------------------------------- tokenizer

def tokenize_rows(data: np.ndarray, offsets: np.ndarray):
    """UTF-8 text buffer -> (flat int32 token ids, int64[T+1] offsets),
    value-identical to the dialect-paired SQL tokenizer
    (sqlpair.TOKENIZE_LAMBDA over split(text, ' ') — asserted by a parity
    test against the Spark expression on the adversarial edge corpus).

    Words are the space-separated substrings; 0x20 never occurs inside a
    UTF-8 multibyte sequence, so the byte-level split equals the SQL
    character-level split, and empty texts / repeated spaces yield empty
    words exactly like split().  Per word w (character positions 1-based):
      token = cp(w,1) + cp(w,2)*256 + [len(w)>=5] cp(w,3)*65536
                                    + [len(w)>=8] cp(w,4)*2^24
    where cp() is the Unicode code point (both engines' ascii()) and len()
    counts code points; missing positions contribute 0 (ascii('') = 0).
    Arithmetic runs in int64; a value outside int32 raises, exactly like
    the ANSI cast both engines apply (a >= 5-char word whose 3rd/4th char
    is an astral code point — impossible in the driver corpus).  The SQL
    form is a CodegenFallback transform() lambda interpreted once per
    word; this kernel is ~20 whole-array passes over the byte buffer."""
    T = offsets.size - 1
    total = int(offsets[-1]) if offsets.size else 0
    if T <= 0:
        return np.zeros(0, np.int32), np.zeros(1, np.int64)
    data = data[:total]
    if total == 0:
        return np.zeros(T, np.int32), np.arange(T + 1, dtype=np.int64)
    text_lens = offsets[1:] - offsets[:-1]
    is_space = data == 0x20
    # ONE cumsum over the byte buffer serves both the per-text word counts
    # and the per-byte word ids
    spb = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(is_space, out=spb[1:])
    n_words = spb[offsets[1:]] - spb[offsets[:-1]] + 1
    W = int(n_words.sum())
    tok_off = np.zeros(T + 1, dtype=np.int64)
    np.cumsum(n_words, out=tok_off[1:])
    # global word id per byte: words begin at text starts and after spaces
    text_of_byte = np.repeat(np.arange(T, dtype=np.int64), text_lens)
    wid_b = tok_off[text_of_byte] - spb[offsets[:-1]][text_of_byte] + spb[:-1]
    # character starts: non-space, non-continuation bytes
    sidx = np.flatnonzero(~is_space & ((data & 0xC0) != 0x80))
    swid = wid_b[sidx]
    char_count = np.bincount(swid, minlength=W)
    cc_off = np.zeros(W + 1, dtype=np.int64)
    np.cumsum(char_count, out=cc_off[1:])
    rank = np.arange(sidx.size, dtype=np.int64) - cc_off[swid]
    # only the first 4 characters of a word contribute; prune the start-byte
    # set once instead of filtering rank==k over all starts four times
    lead = rank < 4
    sidx, swid, rank = sidx[lead], swid[lead], rank[lead]
    ascii_only = bool((data[sidx] < 0x80).all())
    data_p = data if ascii_only else np.concatenate([data, np.zeros(3, np.uint8)])
    cps = np.zeros((4, W), dtype=np.int64)
    for k in range(4):
        sel = rank == k
        pos = sidx[sel]
        b0 = data_p[pos].astype(np.int64)
        if ascii_only:
            # fast path for the overwhelmingly common batch: every word
            # start byte is ASCII, cp == the byte itself
            cps[k, swid[sel]] = b0
            continue
        # decode the code point at each char-start byte; the 1-3 bytes past
        # a short sequence are masked out below (reads stay in-buffer via
        # the 3-byte pad)
        d1 = data_p[pos + 1].astype(np.int64) & 0x3F
        d2 = data_p[pos + 2].astype(np.int64) & 0x3F
        d3 = data_p[pos + 3].astype(np.int64) & 0x3F
        cps[k, swid[sel]] = np.select(
            [b0 < 0x80, b0 < 0xE0, b0 < 0xF0],
            [b0,
             ((b0 & 0x1F) << 6) | d1,
             ((b0 & 0x0F) << 12) | (d1 << 6) | d2],
            ((b0 & 0x07) << 18) | (d1 << 12) | (d2 << 6) | d3)
    tok64 = (cps[0] + cps[1] * 256
             + np.where(char_count >= 5, cps[2] * 65536, 0)
             + np.where(char_count >= 8, cps[3] * 16777216, 0))
    if tok64.size and int(tok64.max()) > np.iinfo(np.int32).max:
        raise ValueError(
            "token id overflows int32 (astral code point in a word's "
            "3rd/4th character) — the ANSI cast in the SQL tokenizer "
            "raises on the same input")
    return tok64.astype(np.int32), tok_off


@pandas_udf(LongType())
def doc_fingerprint(tokens: pd.Series) -> pd.Series:
    """Round-trip polynomial fingerprint of a token array, identical to the
    SQL fold queries._FP_BODY (vectorized: codec.batched.fingerprint_rows).
    For tokens produced by a JVM-side stage (JSONL reader, groupBy
    reassembly) where no decode kernel exists to fuse the fold into; decode
    paths use the kernels' fingerprint=True mode instead."""
    from ..codec.batched import fingerprint_rows
    flat, offsets = list_flat(pa.array(tokens, pa.list_(pa.int64())))
    return pd.Series(fingerprint_rows(flat, offsets))


def _texts_to_tokens(text: pd.Series):
    """pandas Series of strings -> (flat int32 tokens, int64 offsets) via
    the vectorized tokenizer (one Arrow string array, no per-row Python).
    NULL text raises loudly: the SQL tokenizer turns NULL text into NULL
    tokens (no defined fold), while a silent null-as-empty here would emit
    token [0] and diverge from the oracles."""
    col = pa.array(text, pa.string())
    if col.null_count:
        raise ValueError("text column contains NULLs; filter or coalesce "
                         "to '' before the fused tokenizer")
    data, off = binary_flat(col.cast(pa.binary()))
    return tokenize_rows(data, off)


@pandas_udf(LongType())
def doc_simhash_text(text: pd.Series) -> pd.Series:
    """Fused text -> simhash: tokenize_rows + simhash_batch in ONE pandas
    UDF, so only the TEXT column crosses to Python — the token arrays never
    exist as a Spark column (the tokens-column form paid an interpreted
    transform() tokenizer per word plus a second Arrow crossing)."""
    flat, offsets = _texts_to_tokens(text)
    return pd.Series(simhash_batch(np.diff(offsets), flat))


@pandas_udf(LongType())
def doc_fingerprint_text(text: pd.Series) -> pd.Series:
    """Fused text -> rolling-hash document fingerprint (same rationale as
    doc_simhash_text; fold = codec.batched.fingerprint_rows)."""
    from ..codec.batched import fingerprint_rows
    flat, offsets = _texts_to_tokens(text)
    return pd.Series(fingerprint_rows(flat, offsets))


# --------------------------------------------------------------- word stats

def wordstats_batch(texts, marker_sets, distinct: bool) -> dict:
    """Per-row word statistics over an Arrow string array, entirely in
    Arrow C++ kernels + segmented numpy reductions: split_pattern(' ')
    (verified identical to both engines' split — empty text -> [''],
    repeated/leading/trailing spaces keep empty words), dictionary_encode
    for exact distinct-by-string-content, is_in for marker membership.
    Replaces the interpreted per-word filter()/array_distinct HOF lambdas
    of q_quality_score / q_lang_id (the last interpreted per-element
    lambdas in any registry query's hot stage).

    marker_sets: ((out_name, (word, ...)), ...); distinct=False skips the
    sort-based distinct count (lang-ID doesn't need it).
    Returns {name: int64[R]} with n_words always present."""
    import pyarrow.compute as pc
    words = pc.split_pattern(texts, pattern=" ")
    if isinstance(words, pa.ChunkedArray):
        words = words.combine_chunks()
    off = np.asarray(words.offsets, dtype=np.int64)
    off = off - off[0]
    flat = pc.list_flatten(words)
    R = len(texts)
    n_words = np.diff(off)
    row_ids = np.repeat(np.arange(R, dtype=np.int64), n_words)
    out = {"n_words": n_words}
    if distinct:
        # exact distinct word count per row: dictionary codes give each
        # DISTINCT STRING one integer; one composite-key sort segments
        # them per row (codes < 2^31 — the flat word count bounds them)
        codes = np.asarray(flat.dictionary_encode().indices, dtype=np.int64)
        key = (row_ids << np.int64(32)) | codes
        key.sort()
        new = np.ones(key.size, dtype=bool)
        new[1:] = key[1:] != key[:-1]
        out["n_distinct"] = np.bincount(key[new] >> np.int64(32), minlength=R)
    for name, markers in marker_sets:
        m = np.asarray(pc.is_in(flat, value_set=pa.array(list(markers))))
        out[name] = np.bincount(row_ids[m], minlength=R)
    return out


def make_wordstats_udf(marker_sets, distinct: bool):
    """Struct-returning pandas UDF over text: (n_words[, n_distinct],
    *marker counts) as int32 fields — the ratio/argmax math stays SQL on
    both engines, so no cross-engine float ever leaves Python."""
    from pyspark.sql.types import IntegerType, StructField, StructType
    fields = [StructField("n_words", IntegerType())]
    if distinct:
        fields.append(StructField("n_distinct", IntegerType()))
    fields += [StructField(name, IntegerType()) for name, _ in marker_sets]
    schema = StructType(fields)

    @pandas_udf(schema)
    def stats(text: pd.Series) -> pd.DataFrame:
        col = pa.array(text, type=pa.string())
        if col.null_count:
            raise ValueError("NULL text in word-stats input; "
                             "filter or coalesce to '' first")
        res = wordstats_batch(col, marker_sets, distinct)
        return pd.DataFrame(
            {f.name: res[f.name].astype(np.int32) for f in fields})

    return stats


def register_text_udfs(spark: SparkSession) -> None:
    """Register the text-analysis UDFs under stable SQL names."""
    from .pipeline_sql import LANG_MARKERS, STOPWORDS
    spark.udf.register("doc_simhash", doc_simhash)
    spark.udf.register("doc_fingerprint", doc_fingerprint)
    spark.udf.register("doc_simhash_text", doc_simhash_text)
    spark.udf.register("doc_fingerprint_text", doc_fingerprint_text)
    spark.udf.register("quality_counts", make_wordstats_udf(
        (("stops", STOPWORDS),), distinct=True))
    spark.udf.register("lang_counts", make_wordstats_udf(
        tuple((f"l_{k}", v) for k, v in LANG_MARKERS.items()),
        distinct=False))
