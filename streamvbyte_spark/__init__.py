"""streamvbyte-spark: PySpark-native per-column lightweight-compression engine.

Public API surface (the Spark-first equivalent of the reference C API at
/root/reference/include/streamvbyte.h — see README.md coverage map):

    from streamvbyte_spark import (
        get_spark,            # tuned SparkSession factory
        encode_table,         # tokens -> encoded + lineage (mapInArrow)
        decode_table,         # encoded -> tokens (bit-identical)
        verify_roundtrip,     # full-outer-join equality check
        codecs,               # single-array codec registry (NumPy level)
    )

Every codec has one implementation, the whole-batch kernels of
``streamvbyte_spark.codec.batched``; ``codecs[name]`` runs them on a single
array as a one-row batch.  Training-pipeline queries live in
``streamvbyte_spark.queries``.
"""

from typing import Callable, NamedTuple

import numpy as np

from .codec import batched
from .operators import decode_table, encode_table, verify_roundtrip  # noqa: F401
from .session import get_spark  # noqa: F401


class Codec(NamedTuple):
    """One codec on one array: ``encode(uint32[n]) -> bytes``,
    ``decode(bytes, n) -> uint32[n]`` (n is out of band, as in the
    reference) and ``cost(uint32[n])`` == ``len(encode(v))`` without
    encoding."""
    name: str
    encode: Callable[[np.ndarray], bytes]
    decode: Callable[[bytes, int], np.ndarray]
    cost: Callable[[np.ndarray], int]


def _as_u32(values) -> np.ndarray:
    v = np.asarray(values)
    if v.dtype == np.uint32:
        return np.ascontiguousarray(v)
    if v.dtype.kind in "iu":
        return np.ascontiguousarray(v.astype(np.int64).astype(np.uint32))
    raise TypeError(f"expected integer array, got dtype={v.dtype}")


def _one_row_codec(name: str) -> Codec:
    codec_id = np.array([batched.CODEC_ID[name]], dtype=np.int32)

    def encode(values) -> bytes:
        v = _as_u32(values)
        out, _, _ = batched.encode_rows(v, np.array([0, v.size]), codec=name)
        return out.tobytes()

    def decode(buf, n: int) -> np.ndarray:
        enc = np.frombuffer(buf, dtype=np.uint8)
        flat, _ = batched.decode_rows(enc, np.array([0, enc.size]),
                                      np.array([n]), codec_id)
        return flat

    def cost(values) -> int:
        v = _as_u32(values)
        return int(batched.size_rows(v, np.array([0, v.size]), name)[0])

    return Codec(name, encode, decode, cost)


codecs = {name: _one_row_codec(name) for name in batched.CODEC_NAMES}

__all__ = ["get_spark", "encode_table", "decode_table", "verify_roundtrip", "codecs"]
__version__ = "0.1.0"
