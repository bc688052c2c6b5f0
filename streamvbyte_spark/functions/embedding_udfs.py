"""Arrow-vectorized integer embedding math for the similarity queries.

The similarity queries (ann_topk / ann_lsh / embedding_neardup) need exact
BIGINT dot products over quantized embeddings so the Spark result can be
compared value-exactly against the DuckDB oracle.  Spark's array
higher-order functions (`aggregate(zip_with(...))`) are CodegenFallback —
interpreted per element — which makes a 64-dim dot cost ~64 interpreted
lambda calls per pair (measured: 4.5-7s for ~1.5M candidate pairs at
sf0.1).  These pandas UDFs compute the identical integers as one numpy
einsum per Arrow batch.

Quantization matches the SQL on both engines bit-exactly:
``floor(cast(x as double) * 10000)`` == ``np.floor(float64(x) * 10000)``
(same IEEE double ops in the same order).

Hyperplane construction mirrors functions/pipeline_sql._hyperplane_bucket:
plane m, component i (1-based) = ((a_m * (i+1) + b_m) mod 7) - 3 with
a_m = 13 + 6m, b_m = 5 + 11m.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, LongType

from ..arrow_rows import kernel_schema, list_flat
from ..session import fanout_scan, fanout_width

QSCALE = 10000
EMB_DIM = 64


def _quantized(col: pa.Array) -> np.ndarray:
    """Arrow list column of embeddings -> 2D int64 of quantized values
    (list_flat rejects NULL rows and elements loudly).  Ragged rows are
    rejected — every similarity query is defined over fixed EMB_DIM
    embeddings."""
    vals, off = list_flat(col)
    if np.any(np.diff(off) != EMB_DIM):
        raise ValueError(f"embedding dimension != {EMB_DIM}")
    return np.floor(vals.astype(np.float64) * QSCALE).astype(np.int64) \
        .reshape(-1, EMB_DIM)


def _quantize(ser: pd.Series) -> np.ndarray:
    """Series of float arrays (a pandas UDF's array column) -> 2D int64 of
    quantized values, through ONE ``pa.array`` conversion."""
    return _quantized(pa.array(ser, pa.list_(pa.float64())))


def _planes(first: int, count: int) -> np.ndarray:
    """[count, EMB_DIM] integer hyperplanes, plane index m starts at `first`."""
    m = np.arange(first, first + count, dtype=np.int64)[:, None]
    i = np.arange(1, EMB_DIM + 1, dtype=np.int64)[None, :]
    return ((13 + 6 * m) * (i + 1) + (5 + 11 * m)) % 7 - 3


@pandas_udf(LongType())
def emb_dot_q(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact BIGINT dot of two quantized embeddings."""
    return pd.Series(np.einsum("ij,ij->i", _quantize(a), _quantize(b)))


@pandas_udf(LongType())
def emb_norm_q(a: pd.Series) -> pd.Series:
    """Exact BIGINT self-dot (squared norm) of a quantized embedding."""
    q = _quantize(a)
    return pd.Series(np.einsum("ij,ij->i", q, q))


def make_bucket_udf(first_plane: int, n_planes: int):
    """Sign-bit bucket under planes [first_plane, first_plane + n_planes)."""
    pl = _planes(first_plane, n_planes)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(IntegerType())
    def bucket(a: pd.Series) -> pd.Series:
        s = _quantize(a) @ pl.T  # [n, n_planes]
        return pd.Series(((s >= 0) @ weights).astype(np.int32))

    return bucket


def make_band_buckets_udf(n_bands: int, planes_per_band: int):
    """All band buckets in one pass: array<int> of length n_bands."""
    pl = _planes(0, n_bands * planes_per_band)
    weights = (1 << np.arange(planes_per_band, dtype=np.int64))

    @pandas_udf(ArrayType(IntegerType()))
    def buckets(a: pd.Series) -> pd.Series:
        s = _quantize(a) @ pl.T  # [n, n_bands * planes_per_band]
        bits = (s >= 0).reshape(len(s), n_bands, planes_per_band)
        out = (bits @ weights).astype(np.int32)  # [n, n_bands]
        return pd.Series(list(out))

    return buckets


def register_embedding_udfs(spark: SparkSession, n_bands: int,
                            planes_per_band: int) -> None:
    """Register the similarity-query UDFs under stable SQL names."""
    spark.udf.register("emb_dot_q", emb_dot_q)
    spark.udf.register("emb_norm_q", emb_norm_q)
    spark.udf.register("emb_lsh_bucket", make_bucket_udf(0, 4))
    spark.udf.register("emb_band_buckets",
                       make_band_buckets_udf(n_bands, planes_per_band))


def ann_exact_local_topk(cands, q_ids: np.ndarray, q_quant: np.ndarray,
                         k: int = 5, cosine: bool = False):
    """(vec_id, embedding) candidate rows -> per-task top-`k` exact
    neighbors per query: (qid, cid, dot[, na, nb]) with dot the exact
    BIGINT quantized dot product against the Q broadcast query vectors
    (q_ids int64[Q], q_quant int64[Q, EMB_DIM] — quantized like
    emb_dot_q), self-pairs (cid == qid) excluded.

    Replaces the earlier plan's BroadcastNestedLoopJoin + per-pair pandas-UDF
    dot, which shipped BOTH 64-float embeddings per (query, candidate)
    pair through the join and an Arrow crossing (~200 MB at sf1.0,
    measured 4.2-4.8 s): here each candidate crosses once, all Q dots come
    from one exact BLAS/einsum matmul per batch, and only per-task top-k
    survivor rows leave Python.  Candidates are partitioned disjointly, so
    the union of per-task top-k sets per query is a superset of the global
    top-k (no dedup needed).  A single-row-group candidate table fans out
    first (session.fanout_scan by vec_id).

    cosine=True ranks by the UNROUNDED cosine and keeps, per query, every
    pair with cos >= (k-th best cos) - 1e-6 — a provable superset of the
    final ROUNDED-cos top-k: round(x, 6) moves a value by <= 5e-7, so two
    pairs whose rounded order differs from their raw order are within 1e-6
    of each other; a pair more than 1e-6 below k distinct pairs loses to
    all of them after rounding too.  The caller computes the exact rounded
    cosine and the final rank in SQL over the survivors (zero-norm pairs
    rank at cos = 0 on both sides)."""
    part = fanout_scan(cands.select("vec_id", "embedding"), "vec_id")
    Q = int(q_ids.shape[0])
    q_norms = np.einsum("ij,ij->i", q_quant, q_quant) if Q else \
        np.zeros(0, np.int64)
    mxq = int(np.abs(q_quant).max()) if Q else 0
    out_schema = ("qid long, cid long, dot long, na long, nb long"
                  if cosine else "qid long, cid long, dot long")

    def run(batches):
        per_q: list[list[tuple]] = [[] for _ in range(Q)]

        def select_local(j, cid, dot, nb):
            """Per-query local selection: exact top-k for dot ranking, the
            1e-6-slack superset for cosine ranking."""
            if not cosine:
                o = np.lexsort((cid, -dot))[:k]
                return cid[o], dot[o], None
            na = q_norms[j]
            nb_f = nb.astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot.astype(np.float64) / np.sqrt(float(na) * nb_f)
            cos[(na == 0) | (nb == 0)] = 0.0
            if cos.size > k:
                kth = np.partition(cos, cos.size - k)[cos.size - k]
                keep = cos >= kth - 1e-6
                cid, dot, nb = cid[keep], dot[keep], nb[keep]
            return cid, dot, nb

        for batch in batches:
            if batch.num_rows == 0 or Q == 0:
                continue
            idx = {n: batch.schema.get_field_index(n)
                   for n in ("vec_id", "embedding")}
            cid = np.asarray(batch.column(idx["vec_id"]), dtype=np.int64)
            C = _quantized(batch.column(idx["embedding"]))
            nb = np.einsum("ij,ij->i", C, C)
            mxc = int(np.abs(C).max()) if C.size else 0
            use_blas = mxc > 0 and mxq > 0 and \
                EMB_DIM * mxc * mxq < 2 ** 53
            D = (C.astype(np.float64) @ q_quant.T.astype(np.float64))\
                .astype(np.int64) if use_blas else C @ q_quant.T
            for j in range(Q):
                m = cid != q_ids[j]
                cj, dj, nbj = select_local(j, cid[m], D[m, j], nb[m])
                per_q[j].append((cj, dj, nbj))

        cols = {"qid": [], "cid": [], "dot": [], "nb": []}
        for j in range(Q):
            if not per_q[j]:
                continue
            cid = np.concatenate([p[0] for p in per_q[j]])
            dot = np.concatenate([p[1] for p in per_q[j]])
            nb = np.concatenate([p[2] for p in per_q[j]]) if cosine else None
            cj, dj, nbj = select_local(j, cid, dot, nb)
            cols["qid"].append(np.full(cj.size, q_ids[j], np.int64))
            cols["cid"].append(cj)
            cols["dot"].append(dj)
            if cosine:
                cols["nb"].append(nbj)
        if cols["qid"]:
            qid = np.concatenate(cols["qid"])
            arrays = [pa.array(qid, pa.int64()),
                      pa.array(np.concatenate(cols["cid"]), pa.int64()),
                      pa.array(np.concatenate(cols["dot"]), pa.int64())]
            names = ["qid", "cid", "dot"]
            if cosine:
                arrays += [pa.array(q_norms[np.searchsorted(q_ids, qid)],
                                    pa.int64()),
                           pa.array(np.concatenate(cols["nb"]), pa.int64())]
                names += ["na", "nb"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return part.mapInArrow(run, kernel_schema(out_schema))


def neardup_local_topk(banded, k: int = 50):
    """(band_id, bucket, vec_id, embedding) rows -> per-task top-`k`
    candidate pairs (id_a, id_b, dot, na, nb) under the total order
    (dot desc, id_a, id_b), pairs being same-(band_id, bucket) vectors with
    id_a < id_b, dot their exact BIGINT quantized dot product and na/nb the
    vectors' exact BIGINT squared norms (the same integers emb_norm_q
    yields — so the caller needs no norm join at all).

    This is the neardup candidate generator restructured per the shuffle-
    fewer-bytes rule (optimization guide §2.3/§8): the earlier plan equi-joined
    the band table with itself and then joined each of the ~n^2/256-per-band
    candidate PAIRS back to the embedding table twice, shipping 2 x 64
    floats per pair through the join exchanges and one Arrow crossing
    (measured 7.8 s at sf1.0, ~3M pairs).  Here each embedding crosses the
    wire ONCE per band (one numbered repartition on the small
    (band_id, bucket) key), each co-bucketed group's dots come from one
    BLAS/einsum gram matrix per group, and only per-task top-k survivor
    rows (<= width * k, the width being session.fanout_width) leave
    Python.

    Correctness of the local pre-limit: for any pair p in the global
    distinct top-k, every task containing p holds fewer than k distinct
    pairs ranking above p (those pairs would also rank above p globally),
    so p survives every local top-k — the union of local top-k sets is a
    superset of the global top-k.  Duplicates of a pair (co-bucketed in
    several bands) carry identical dots; the caller dedups globally before
    its ranking limit, exactly as the earlier `group by` did.

    Exactness of the BLAS path: products and partial sums of quantized
    int64 components are exact in float64 whenever 64 * max|q|^2 < 2^53
    (checked per group; the einsum int64 path covers the rest)."""
    width = fanout_width(banded.sparkSession)
    part = (banded.select("band_id", "bucket", "vec_id", "embedding")
            # numbered repartition: AQE's byte-based coalescing would
            # collapse this CPU-heavy-but-byte-small exchange.
            # No JVM sort: the kernel lexsorts its whole partition itself
            # (cheaper than a Sort node over rows this small, and it removes
            # the cross-batch group-seam bookkeeping); partition size is
            # bands * n / width rows — the same working set the JVM sort
            # buffer would hold.
            .repartition(width, "band_id", "bucket"))

    def run(batches):
        acc: list[tuple] = []   # (id_a, id_b, dot, na, nb) int64 rows
        acc_n = 0
        thresh = None   # k-th best dot seen so far (inclusive admit bound)

        def compact():
            nonlocal acc, acc_n, thresh
            cols = [np.concatenate([a[i] for a in acc]) for i in range(5)]
            ida, idb, dot, na, nb = cols
            # dedup by pair (duplicates carry identical dots/norms), then
            # local top-k under the total order (dot desc, id_a, id_b)
            o = np.lexsort((idb, ida))
            ida, idb = ida[o], idb[o]
            keep = np.ones(ida.size, dtype=bool)
            keep[1:] = (ida[1:] != ida[:-1]) | (idb[1:] != idb[:-1])
            o = o[keep]
            ida, idb, dot, na, nb = ida[keep], idb[keep], dot[o], na[o], nb[o]
            o = np.lexsort((idb, ida, -dot))[:k]
            acc = [(ida[o], idb[o], dot[o], na[o], nb[o])]
            acc_n = int(o.size)
            if acc_n == k:
                # a pair must reach at least this dot to enter the local
                # top-k; the admit filter below is INCLUSIVE (>=), so a
                # tying pair that wins on (id_a, id_b) is never dropped
                thresh = int(acc[0][2][-1])

        def emit_group(ids: np.ndarray, Q: np.ndarray, nq: np.ndarray):
            nonlocal acc_n
            g = ids.size
            if g < 2:
                return
            mx = int(np.abs(Q).max())
            # float64 matmul (BLAS) when provably exact, else int64 einsum
            use_blas = mx > 0 and EMB_DIM * mx * mx < 2 ** 53
            Qm = Q.astype(np.float64) if use_blas else Q
            cols = np.arange(g, dtype=np.int64)
            B = 1024
            for i0 in range(0, g - 1, B):
                i1 = min(i0 + B, g)
                P = Qm[i0:i1] @ Qm.T
                if use_blas:
                    P = P.astype(np.int64)
                mask = cols[None, :] > np.arange(i0, i1)[:, None]
                if thresh is not None:
                    mask &= P >= thresh
                r, c = np.nonzero(mask)
                if not r.size:
                    continue
                acc.append((ids[i0 + r], ids[c], P[r, c],
                            nq[i0 + r], nq[c]))
                acc_n += r.size
                if acc_n > 200_000:
                    compact()

        bands_l, bucks_l, vids_l, qs_l = [], [], [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            idx = {n: batch.schema.get_field_index(n)
                   for n in ("band_id", "bucket", "vec_id", "embedding")}
            bands_l.append(np.asarray(batch.column(idx["band_id"]),
                                      dtype=np.int64))
            bucks_l.append(np.asarray(batch.column(idx["bucket"]),
                                      dtype=np.int64))
            vids_l.append(np.asarray(batch.column(idx["vec_id"]),
                                     dtype=np.int64))
            qs_l.append(_quantized(batch.column(idx["embedding"])))
        if bands_l:
            band = np.concatenate(bands_l)
            buck = np.concatenate(bucks_l)
            vid = np.concatenate(vids_l)
            Q = np.vstack(qs_l)
            bands_l = bucks_l = vids_l = qs_l = None
            order = np.lexsort((vid, buck, band))
            band, buck, vid, Q = band[order], buck[order], vid[order], \
                Q[order]
            nq = np.einsum("ij,ij->i", Q, Q)
            brk = np.flatnonzero((band[1:] != band[:-1])
                                 | (buck[1:] != buck[:-1]))
            for s, e in zip(np.concatenate(([0], brk + 1)),
                            np.concatenate((brk + 1, [band.size]))):
                emit_group(vid[s:e], Q[s:e], nq[s:e])
        if acc:
            compact()
            ida, idb, dot, na, nb = acc[0]
            if ida.size:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ida, pa.int64()), pa.array(idb, pa.int64()),
                     pa.array(dot, pa.int64()), pa.array(na, pa.int64()),
                     pa.array(nb, pa.int64())],
                    names=["id_a", "id_b", "dot", "na", "nb"])

    return part.mapInArrow(run, kernel_schema(
        "id_a long, id_b long, dot long, na long, nb long"))
