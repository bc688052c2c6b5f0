"""The Arrow-vectorized simhash must produce the exact BIGINT the dialect-
paired SQL fold produces (functions/pipeline_sql.q_dedup_simhash's DuckDB
branch) — checked against a per-element reimplementation of the formula and
against DuckDB running the actual oracle fold on the same token lists."""

from __future__ import annotations

import duckdb
import numpy as np

from streamvbyte_spark.functions import pipeline_sql as P
from streamvbyte_spark.functions import text_udfs as T

RNG = np.random.default_rng(17)


def _simhash_ref(tokens):
    """The SQL formula, bit by bit."""
    out = 0
    for k in range(P.SIMHASH_BITS):
        s = 0
        for t in tokens:
            h = (P.SIMHASH_A * int(t) + P.SIMHASH_B) % P.MINHASH_P
            s += 2 * ((h >> k) & 1) - 1
        if s > 0:
            out += 1 << k
    return out


def _rows(lengths):
    arrs = [RNG.integers(0, 2**31 - 1, n, dtype=np.int64) for n in lengths]
    lens = np.array([a.size for a in arrs], dtype=np.int64)
    flat = np.concatenate(arrs) if arrs else np.zeros(0, np.int64)
    return arrs, lens, flat


def test_simhash_batch_matches_scalar_formula():
    arrs, lens, flat = _rows([0, 1, 2, 5, 33, 100, 0, 7])
    got = T.simhash_batch(lens, flat)
    for i, a in enumerate(arrs):
        assert got[i] == _simhash_ref(a), f"row {i}"


def test_simhash_batch_matches_duckdb_fold():
    """Run the ACTUAL oracle SQL fragment (DuckDB dialect of q_dedup_simhash's
    bit fold) over the same token lists."""
    d = P.Dialect("duckdb")
    h = f"(cast({P.SIMHASH_A} as bigint) * t + {P.SIMHASH_B}) % {P.MINHASH_P}"
    bit_terms = []
    for k in range(P.SIMHASH_BITS):
        bit = f"({d.idiv(f'({h})', str(1 << k))} % 2)"
        lam_sum = d.fold0("tokens", f"acc + 2 * ({bit}) - 1")
        bit_terms.append(
            f"(case when {lam_sum} > 0 then cast({1 << k} as bigint) else 0 end)")
    expr = " + ".join(bit_terms)
    arrs, lens, flat = _rows([0, 3, 17, 64, 200])
    got = T.simhash_batch(lens, flat)
    con = duckdb.connect()
    for i, a in enumerate(arrs):
        want = con.execute(
            f"select ({expr}) from (select $1::int[] as tokens)",
            [[int(x) for x in a]]).fetchone()[0]
        assert got[i] == want, f"row {i}"


def test_simhash_empty_and_all_empty():
    got = T.simhash_batch(np.array([0, 0], np.int64), np.zeros(0, np.int64))
    assert got.tolist() == [0, 0]


def _wordstats_ref(text, markers):
    """SQL semantics, per row: split on ' ' (empty text -> [''], repeated
    spaces keep empty words), distinct by exact string, marker membership."""
    words = text.split(" ")
    return (len(words), len(set(words)),
            sum(1 for w in words if w in markers))


def test_wordstats_property_random_corpora():
    """Hypothesis sweep: random unicode-ish corpora (stopwords, empties,
    multibyte, repeated spaces) through wordstats_batch vs the pure-Python
    SQL-semantics reference."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st
    markers = ("the", "a", "of", "🙂", "héllo")
    word = st.sampled_from(
        ["the", "a", "of", "x", "dup", "héllo", "wörld", "日本語", "🙂", ""])
    text = st.lists(word, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(text, min_size=0, max_size=8))
    def run(texts):
        col = pa.array(texts, pa.string())
        got = T.wordstats_batch(col, (("hits", markers),), distinct=True)
        want = [_wordstats_ref(t, set(markers)) for t in texts]
        assert got["n_words"].tolist() == [w[0] for w in want]
        assert got["n_distinct"].tolist() == [w[1] for w in want]
        assert got["hits"].tolist() == [w[2] for w in want]

    run()


def test_list_flat_rejects_element_null():
    """A NULL ELEMENT inside a token array must raise — the flat would
    otherwise carry a made-up value and the fingerprint fold would silently
    emit garbage.  The Series go through the one pa.array conversion the
    pandas UDFs use."""
    import pandas as pd
    import pyarrow as pa
    import pytest
    from streamvbyte_spark.arrow_rows import list_flat

    def flat_of(ser):
        return list_flat(pa.array(ser, pa.list_(pa.int64())))
    with pytest.raises(ValueError, match="NULL"):
        flat_of(pd.Series([[1, None, 3]]))
    with pytest.raises(ValueError, match="NULL"):
        flat_of(pd.Series([[1, 2], None]))
    flat, off = flat_of(pd.Series([[1, 2], [], [3]]))
    assert flat.tolist() == [1, 2, 3] and off.tolist() == [0, 2, 2, 3]


def test_quantize_rejects_ragged_and_null():
    import pandas as pd
    import pytest
    from streamvbyte_spark.functions.embedding_udfs import EMB_DIM, _quantize
    with pytest.raises(ValueError, match="dimension"):
        _quantize(pd.Series([[0.5] * (EMB_DIM - 1)]))
    with pytest.raises(ValueError, match="NULL"):
        _quantize(pd.Series([None]))
    q = _quantize(pd.Series([[0.5] * EMB_DIM]))
    assert q.shape == (1, EMB_DIM) and (q == 5000).all()


def test_spark_simhash_sql_has_no_hof():
    """The Spark-side SQL must carry ZERO aggregate() lambdas — tokenizer
    AND simhash are ONE fused pandas-UDF call (the tokenizer is fused in
    too, so no transform() lambda remains either)."""
    sql = P.spark_sql("dedup_simhash")
    assert "aggregate(" not in sql and "doc_simhash_text(" in sql, sql
    assert "transform(" not in sql, sql
    # the oracle keeps the exact fold (that's what makes the gate a proof)
    assert "aggregate(" not in P.duckdb_sql("dedup_simhash")
    assert "list_reduce" in P.duckdb_sql("dedup_simhash")
