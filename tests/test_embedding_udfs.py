"""The Arrow-vectorized embedding math must produce the exact integers the
dialect-paired SQL lambdas produce (functions/pipeline_sql.py) — quantization,
dot products, and hyperplane sign buckets are all compared against direct
per-element reimplementations of the SQL formulas, plus a DuckDB cross-check
of the floor(double*10000) quantization on adversarial floats."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from streamvbyte_spark.functions import embedding_udfs as E
from streamvbyte_spark.functions import pipeline_sql as P

RNG = np.random.default_rng(7)


def _vecs(n):
    return [RNG.standard_normal(E.EMB_DIM).astype(np.float32) for _ in range(n)]


def _q_ref(v):
    """The SQL formula, element by element: floor(cast(x as double) * 10000)."""
    return [int(math.floor(float(x) * 10000)) for x in v]


def test_quantize_matches_sql_floor_semantics():
    vecs = _vecs(50)
    # adversarial values: negatives, exact representables, huge/small
    vecs.append(np.array([-0.00005, 0.00005, -1.0, 1.0, 0.12345, -0.9999995,
                          2.5e-5, -2.5e-5] * 8, dtype=np.float32))
    q = E._quantize(pd.Series(vecs))
    for i, v in enumerate(vecs):
        assert q[i].tolist() == _q_ref(v), f"row {i}"


def test_quantize_matches_duckdb():
    vecs = _vecs(20)
    con = duckdb.connect()
    for v in vecs:
        got = E._quantize(pd.Series([v]))[0].tolist()
        want = con.execute(
            "select list_transform($1::float[], x -> "
            "cast(floor(cast(x as double) * 10000) as int))",
            [[float(x) for x in v]]).fetchone()[0]
        assert got == want


def test_planes_match_sql_formula():
    pl = E._planes(0, P.NEARDUP_BANDS * P.NEARDUP_PLANES_PER_BAND)
    for m in range(pl.shape[0]):
        a, b = 13 + 6 * m, 5 + 11 * m
        for j in range(E.EMB_DIM):
            i = j + 1  # SQL index is 1-based; formula uses (i + 1)
            assert pl[m, j] == ((a * (i + 1) + b) % 7) - 3


def test_bucket_udf_matches_scalar_formula():
    vecs = _vecs(100)
    q = E._quantize(pd.Series(vecs))
    pl = E._planes(0, P.NEARDUP_BANDS * P.NEARDUP_PLANES_PER_BAND)
    s = q @ pl.T
    bits = s >= 0
    ppb = P.NEARDUP_PLANES_PER_BAND
    for r in range(len(vecs)):
        for band in range(P.NEARDUP_BANDS):
            want = sum((1 << k) for k in range(ppb) if bits[r, band * ppb + k])
            got = (bits[r].reshape(P.NEARDUP_BANDS, ppb) @
                   (1 << np.arange(ppb)))[band]
            assert got == want


def test_dot_matches_scalar():
    vecs = _vecs(30)
    qa, qb = E._quantize(pd.Series(vecs[:15])), E._quantize(pd.Series(vecs[15:]))
    dots = np.einsum("ij,ij->i", qa, qb)
    for r in range(15):
        assert dots[r] == sum(int(x) * int(y) for x, y in zip(qa[r], qb[r]))


def test_neardup_local_topk_matches_bruteforce():
    """The r11 gram-matrix local-top-k kernel (the embedding_neardup
    candidate generator) must reproduce the brute-force distinct top-50:
    same pairs, same dots, same norms — including through its compaction
    (>200k buffered pairs) and running-threshold admit paths, which a
    skewed 700-vector bucket forces (~245k pairs in one group)."""
    import pyspark.sql.functions as F
    from streamvbyte_spark.session import get_spark

    k = 50
    n = 700
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((n, E.EMB_DIM)).astype(np.float32)
    # a few exact duplicates: tie dots must resolve by (id_a, id_b)
    vecs[5] = vecs[3]
    vecs[17] = vecs[3]
    q = np.floor(vecs.astype(np.float64) * E.QSCALE).astype(np.int64)

    # brute-force distinct top-k over BOTH bands' identical bucket — the
    # pair set is every i<j (one bucket per band)
    iu, ju = np.triu_indices(n, 1)
    dots = np.einsum("ij,ij->i", q[iu], q[ju])
    nq = np.einsum("ij,ij->i", q, q)
    order = np.lexsort((ju, iu, -dots))[:k]
    want = [(int(iu[o]), int(ju[o]), int(dots[o]),
             int(nq[iu[o]]), int(nq[ju[o]])) for o in order]

    spark = get_spark(app="neardup-topk-test", master="local[4]",
                      shuffle_partitions=4)
    try:
        import pandas as pd
        pdf = pd.DataFrame({
            # two bands over ONE bucket each: every pair duplicated across
            # bands — the kernel's dedup must collapse them
            "band_id": np.repeat(np.array([0, 1], dtype=np.int32), n),
            "bucket": np.zeros(2 * n, dtype=np.int32),
            "vec_id": np.tile(np.arange(n, dtype=np.int64), 2),
            "embedding": list(vecs) * 2,
        })
        banded = spark.createDataFrame(pdf)
        lt = E.neardup_local_topk(banded, k=k)
        rows = lt.distinct().orderBy(F.desc("dot"), "id_a", "id_b") \
            .limit(k).collect()
        got = [(r.id_a, r.id_b, r.dot, r.na, r.nb) for r in rows]
        assert got == want
    finally:
        spark.stop()


def test_ann_exact_local_topk_matches_bruteforce():
    """The r11 exact-ANN kernel must reproduce the brute-force per-query
    top-5 — dot ranking exactly, and for cosine ranking its 1e-6-slack
    survivor set must contain the ROUNDED-cos top-5 (including zero-norm
    candidates, which rank at cos = 0)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from streamvbyte_spark.session import get_spark

    n, Q, k = 400, 6, 5
    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((n, E.EMB_DIM)).astype(np.float32)
    vecs[50] = 0.0                      # zero-norm candidate
    vecs[7] = vecs[3]                   # duplicate -> tie dots
    q = np.floor(vecs.astype(np.float64) * E.QSCALE).astype(np.int64)
    q_ids = np.arange(Q, dtype=np.int64)
    q_mat = q[:Q]
    nq = np.einsum("ij,ij->i", q, q)

    def brute(cosine):
        want = []
        for j in range(Q):
            cand = np.array([c for c in range(n) if c != j])
            dots = q[cand] @ q_mat[j]
            if cosine:
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots.astype(np.float64) / np.sqrt(
                        float(nq[j]) * nq[cand].astype(np.float64))
                cos[(nq[j] == 0) | (nq[cand] == 0)] = 0.0
                # the SQL rounds half-up; emulate via decimal on the
                # shortest repr (adequate for a random test corpus)
                import decimal
                r = np.array([float(decimal.Decimal(repr(c)).quantize(
                    decimal.Decimal("0.000001"),
                    rounding=decimal.ROUND_HALF_UP)) for c in cos])
                o = np.lexsort((cand, -r))[:k]
                want.append([(j, int(cand[i]), float(r[i])) for i in o])
            else:
                o = np.lexsort((cand, -dots))[:k]
                want.append([(j, int(cand[i]), int(dots[i])) for i in o])
        return want

    spark = get_spark(app="ann-topk-test", master="local[4]",
                      shuffle_partitions=4)
    try:
        import pandas as pd
        cands = spark.createDataFrame(pd.DataFrame({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs)}))
        # dot ranking: exact top-5 per query
        lt = E.ann_exact_local_topk(cands, q_ids, q_mat, k=k,
                                    cosine=False)
        w = Window.partitionBy("qid").orderBy(F.desc("dot"), "cid")
        rows = (lt.withColumn("rnk", F.row_number().over(w))
                .where("rnk <= 5").orderBy("qid", "rnk").collect())
        got = [(r.qid, r.cid, r.dot) for r in rows]
        assert got == [t for per in brute(False) for t in per]
        # cosine ranking: rounded-cos top-5 from the slack survivors
        lt = E.ann_exact_local_topk(cands, q_ids, q_mat, k=k,
                                    cosine=True)
        cosed = lt.select("qid", "cid", F.expr(
            "case when na = 0 or nb = 0 then cast(0 as double) "
            "else round(cast(dot as double) / "
            "sqrt(cast(na as double) * cast(nb as double)), 6) end")
            .alias("cos"))
        w = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
        rows = (cosed.withColumn("rnk", F.row_number().over(w))
                .where("rnk <= 5").orderBy("qid", "rnk").collect())
        got = [(r.qid, r.cid, round(r.cos, 6)) for r in rows]
        want = [(a, b, round(c, 6))
                for per in brute(True) for (a, b, c) in per]
        assert got == want
    finally:
        spark.stop()
