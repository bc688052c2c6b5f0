"""Column-level UDF registry: the reference's 12-function C API as Spark
expressions (SURVEY.md §2.2 "UDF/UDAF/UDTF surface").

``mapInArrow`` (operators.encode) is the fast whole-batch path; these pandas
UDFs are the *composable* path — usable inside any ``select``/SQL expression,
registered for SQL via :func:`register_udfs`:

    register_udfs(spark)
    spark.sql("SELECT doc_id, svb_encode(tokens) AS enc, "
              "svb_size(tokens) AS nbytes FROM tok")

Arrow-batched Series in/out; per-batch work delegates to the same batched
NumPy kernels, so even the UDF path never loops rows in Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, IntegerType,
                               LongType)

from ..arrow_rows import binary_array, binary_flat, list_array, list_flat
from ..codec import batched

# pandas hands an array column over as a Series of per-row arrays: ONE
# pa.array conversion walks them in Arrow C++ (a per-row np.asarray loop
# was ~10x slower), and list_flat rejects NULL rows and elements loudly
_INT_LISTS = pa.list_(pa.int64())


def _encoded_flat(ser: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    # binary_flat would read a NULL row as an empty stream: reject it here
    col = pa.array(ser, type=pa.binary())
    if col.null_count:
        raise ValueError("NULL encoded value in UDF input; filter first")
    return binary_flat(col)


def make_encode_udf(codec: str = "svb"):
    batched.check_codec(codec)

    @pandas_udf(BinaryType())
    def svb_encode(tokens: pd.Series) -> pd.Series:
        flat, offsets = list_flat(pa.array(tokens, _INT_LISTS))
        out, ooff, _ = batched.encode_rows(flat.astype(np.uint32), offsets,
                                           codec=codec)
        return binary_array(out, ooff).to_pandas()
    return svb_encode


def make_decode_udf(codec: str = "svb"):
    cid = batched.CODEC_ID[codec]

    @pandas_udf(ArrayType(IntegerType()))
    def svb_decode(encoded: pd.Series, n_tok: pd.Series) -> pd.Series:
        enc, eoff = _encoded_flat(encoded)
        n = n_tok.to_numpy(dtype=np.int64)
        cids = np.full(n.size, cid, dtype=np.int32)
        flat, offsets = batched.decode_rows(enc, eoff, n, cids)
        return list_array(flat.view(np.int32), offsets).to_pandas()
    return svb_decode


def make_zigzag_encode_udf(delta: bool = False):
    """svb_zigzag / svb_zz_delta stream encode as a column expression
    (reference zigzag API, include/streamvbyte_zigzag.h)."""
    @pandas_udf(BinaryType())
    def zz_encode(tokens: pd.Series) -> pd.Series:
        flat, offsets = list_flat(pa.array(tokens, _INT_LISTS))
        out, ooff = batched.encode_signed_rows(flat.astype(np.int32), offsets,
                                               delta=delta)
        return binary_array(out, ooff).to_pandas()
    return zz_encode


def make_zigzag_decode_udf(delta: bool = False):
    @pandas_udf(ArrayType(IntegerType()))
    def zz_decode(encoded: pd.Series, n_tok: pd.Series) -> pd.Series:
        enc, eoff = _encoded_flat(encoded)
        n = n_tok.to_numpy(dtype=np.int64)
        flat, offsets = batched.decode_signed_rows(enc, eoff, n, delta=delta)
        return list_array(flat, offsets).to_pandas()
    return zz_decode


@pandas_udf(LongType())
def svb_size(tokens: pd.Series) -> pd.Series:
    """streamvbyte_compressedbytes as a column expression."""
    flat, offsets = list_flat(pa.array(tokens, _INT_LISTS))
    return pd.Series(batched.size_rows(flat.astype(np.uint32), offsets, "svb"))


@pandas_udf(LongType())
def auto_size(tokens: pd.Series) -> pd.Series:
    """The size of the codec the ``auto`` selector picks."""
    flat, offsets = list_flat(pa.array(tokens, _INT_LISTS))
    return pd.Series(batched.size_rows(flat.astype(np.uint32), offsets,
                                       "auto"))


@pandas_udf(BooleanType())
def svb_validate(encoded: pd.Series, n_tok: pd.Series) -> pd.Series:
    """streamvbyte_validate_stream as a column expression."""
    enc, eoff = _encoded_flat(encoded)
    ok = batched.validate_rows(enc, eoff, n_tok.to_numpy(dtype=np.int64))
    return pd.Series(ok)


def register_udfs(spark: SparkSession):
    """Expose the codec API to SQL: svb_encode/svb_decode/svb_size/
    svb_auto_size/svb_validate (+ per-codec encode variants svb0124_encode,
    delta_encode, ...)."""
    spark.udf.register("svb_encode", make_encode_udf("svb"))
    spark.udf.register("svb_decode", make_decode_udf("svb"))
    spark.udf.register("svb_size", svb_size)
    spark.udf.register("svb_auto_size", auto_size)
    spark.udf.register("svb_validate", svb_validate)
    for codec in ("svb0124", "svb_delta", "bitpack", "for", "dict", "rle"):
        spark.udf.register(f"{codec}_encode", make_encode_udf(codec))
        spark.udf.register(f"{codec}_decode", make_decode_udf(codec))
    spark.udf.register("zigzag_encode", make_zigzag_encode_udf(False))
    spark.udf.register("zigzag_decode", make_zigzag_decode_udf(False))
    spark.udf.register("zzdelta_encode", make_zigzag_encode_udf(True))
    spark.udf.register("zzdelta_decode", make_zigzag_decode_udf(True))
