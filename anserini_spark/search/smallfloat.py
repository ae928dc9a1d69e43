"""Lucene SmallFloat byte4 length quantization — the lossy doc-length
norm behind the reference's DEFAULT BM25 runs.

Lucene's ``BM25Similarity`` stores each document's length as a single
byte via ``SmallFloat.intToByte4`` and decodes it at query time with
``SmallFloat.byte4ToInt``; every published default-BM25 regression
number is computed over these quantized lengths. The reference
exposes exactly this roundtrip in
`util/ExtractDocumentLengths.java:85-93` ("lossy_doc_length" =
``byte4ToInt(intToByte4(exactDoclength))``). ``AccurateBM25Similarity``
(`search/similarity/AccurateBM25Similarity.java`) is the same formula
WITHOUT the quantization — the repo's exact-norm path.

The encoding keeps the 4 most significant bits of the integer (3
stored + 1 implicit leading bit) and a 5-bit shift, so the decoded
roundtrip equals the input with everything below the top 4 bits
zeroed: values 0-15 are exact, 127 -> 120, 128 -> 128, 1000 -> 960.
Monotone non-decreasing, so block-max bounds built from
``quantize(min_dl)`` stay valid (min and quantize commute).

Unlike Lucene we store EXACT doclens in the index and quantize at
scoring time — one index serves both the exact (AccurateBM25) and
lossy (default-BM25 parity) modes, since the quantization is a pure
function of the exact length.
"""

from __future__ import annotations

import numpy as np


def int_to_byte4(i: int) -> int:
    """Encode a non-negative int into Lucene's unsigned byte4 code."""
    if i < 0:
        raise ValueError("only supports positive numbers")
    num_bits = int(i).bit_length()
    if num_bits < 4:
        return i
    shift = num_bits - 4
    # keep 3 explicit mantissa bits (the 4th, leading bit is implicit)
    encoded = (i >> shift) & 0x07
    # shift+1 because 0 is reserved for the small (exact) values
    return encoded | ((shift + 1) << 3)


def byte4_to_int(b: int) -> int:
    """Decode an unsigned byte4 code back to its (quantized) int."""
    bits = b & 0x07
    shift = (b >> 3) - 1
    if shift == -1:
        return bits
    return (bits | 0x08) << shift


def quantize_length(dl) -> np.ndarray:
    """Vectorized ``byte4_to_int(int_to_byte4(dl))`` roundtrip: zero
    every bit below the 4 most significant ones. Exact for
    dl < 2**53 (frexp exponent == bit_length for positive ints)."""
    dl = np.asarray(dl, dtype=np.int64)
    exp = np.frexp(dl.astype(np.float64))[1]
    shift = np.maximum(exp - 4, 0)
    return (dl >> shift) << shift

