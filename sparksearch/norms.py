"""Lucene-compatible SmallFloat length quantization.

The reference stores each document's per-field token count as a single byte
norm (``SmallFloat.intToByte4``), and BM25 decodes it back at query time
(``SmallFloat.byte4ToInt``), so the effective document length seen by the
scorer is *quantized*: exact below 8, floor-truncated to a 4-bit mantissa
above. Reference wiring: norms enabled by default on text fields
(/root/reference/server/src/main/java/org/opensearch/index/mapper/TextFieldMapper.java:289)
and decoded per-norm score cache in BM25 similarity
(/root/reference/server/src/main/java/org/opensearch/index/similarity/SimilarityProviders.java:308-316,
the encoding itself is Lucene 9.4 public SmallFloat).

Encoding (for i >= 0):
  numBits = bit_length(i)
  if numBits < 4: byte = i                        (values 0..7 exact)
  else: shift = numBits - 4
        byte = ((i >> shift) & 0x07) | ((shift + 1) << 3)   (3-bit mantissa
        sans implicit-1 MSB, 5-bit exponent)
Decoding:
  bits = byte & 0x07 ; shift = (byte >> 3) - 1
  i = bits if shift == -1 else (bits | 0x08) << shift

The engine quantizes in Catalyst (`quantized_dl_sql`); the scalar
functions are its reference and the oracle's quantizer.
"""

from __future__ import annotations

__all__ = [
    "int_to_byte4",
    "byte4_to_int",
    "quantize_length",
    "quantized_dl_sql",
]


def int_to_byte4(i: int) -> int:
    """Encode a non-negative int to the 1-byte norm (0..255)."""
    if i < 0:
        raise ValueError("negative length")
    num_bits = i.bit_length()
    if num_bits < 4:
        return i
    shift = num_bits - 4
    # top-4-bits mantissa has its MSB always set → store only the low 3 bits
    encoded = ((i >> shift) & 0x07) | ((shift + 1) << 3)
    return encoded & 0xFF


def byte4_to_int(b: int) -> int:
    """Decode a 1-byte norm back to the quantized length."""
    b &= 0xFF
    bits = b & 0x07
    shift = (b >> 3) - 1
    if shift == -1:
        return bits
    return (bits | 0x08) << shift


def quantize_length(i: int) -> int:
    """decode(encode(i)) — the document length the scorer actually sees."""
    return byte4_to_int(int_to_byte4(i))


def quantized_dl_sql(dl: str) -> str:
    """decode(encode(dl)) as an ANSI SQL expression that parses identically
    in Spark SQL and DuckDB (pure Catalyst JVM path — no UDF): keep the top
    4 bits via (dl >> s) << s with s = ⌊log2 dl⌋ - 3; exact below 8.
    log2 is exact at powers of two in IEEE doubles, so the floor is safe."""
    s = f"(cast(floor(log2({dl})) as int) - 3)"
    return (f"(CASE WHEN ({dl}) < 8 THEN ({dl}) "
            f"ELSE (({dl}) >> {s}) << {s} END)")
