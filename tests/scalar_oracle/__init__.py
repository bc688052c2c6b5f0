"""Scalar reference implementations: the independent second copy the tests
compare the shipped batch kernels against.

``core`` (the StreamVByte schemes), ``companions`` (bitpack, for, dict,
rle, fsst, ef) and ``select`` (their registry and argmin selector) encode
one array at a time with plain NumPy, written straight from the format
specs.  The package ships only the whole-batch kernels of
``streamvbyte_spark.codec.batched``; every byte-identity test compares
those kernels, and the public ``streamvbyte_spark.codecs`` built on them,
against this second implementation.

``media`` decodes one JPEG or PNG at a time (a bit-by-bit Huffman reader,
a per-image IDCT, a per-row PNG unfilter).  The package ships only the
lockstep image kernels behind ``operators.multimodal._decode_image_batch``;
the image byte-identity and corruption fuzz tests compare them against
``media``.
"""
