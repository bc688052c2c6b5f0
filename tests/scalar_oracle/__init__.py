"""Scalar single-array codecs: the independent reference for the tests.

``core`` (the StreamVByte schemes), ``companions`` (bitpack, for, dict,
rle, fsst, ef) and ``select`` (their registry and argmin selector) encode
one array at a time with plain NumPy, written straight from the format
specs.  The package ships only the whole-batch kernels of
``streamvbyte_spark.codec.batched``; every byte-identity test compares
those kernels, and the public ``streamvbyte_spark.codecs`` built on them,
against this second implementation.
"""
