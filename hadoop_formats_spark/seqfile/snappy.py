"""Raw Snappy codec: a thin wrapper over pyarrow's bundled libsnappy.

Raw Snappy blocks (format description:
https://github.com/google/snappy/blob/main/format_description.txt) are
what Hadoop's SnappyCodec frames inside its ``BlockCompressorStream``;
the reference decompresses the same chunks via libsnappy
(``cbits/decode.c:76-118``).  Every Arrow codec failure surfaces as
``SnappyError``.
"""

from __future__ import annotations

import pyarrow as pa


class SnappyError(ValueError):
    pass


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """Little-endian base-128 varint (the Snappy preamble length)."""
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise SnappyError("truncated snappy preamble")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 35:
            raise SnappyError("snappy preamble varint too long")


def decompress(buf: bytes) -> bytes:
    """Decompress one raw Snappy block.

    The output size comes from the block's own preamble: given a larger
    size, Arrow would return a buffer padded to it instead of failing."""
    size, _ = _read_uvarint(buf, 0)
    try:
        return pa.decompress(buf, decompressed_size=size, codec="snappy", asbytes=True)
    except (OSError, MemoryError, pa.ArrowException) as ex:
        raise SnappyError(f"corrupt snappy block: {ex!r}") from ex


def compress(buf: bytes) -> bytes:
    """Compress to one raw Snappy block."""
    return pa.compress(buf, codec="snappy", asbytes=True)
