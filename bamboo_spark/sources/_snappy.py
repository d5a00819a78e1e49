"""Pure-Python Snappy block-format decompressor.

Implemented from the public Snappy format description
(https://github.com/google/snappy/blob/main/format_description.txt):
a little-endian base-128 varint of the uncompressed length, then a
sequence of elements tagged by the low 2 bits of the first byte —
00 literal, 01 copy with 1-byte offset, 10 copy with 2-byte offset,
11 copy with 4-byte offset. Copies may overlap their output (offset <
length repeats the pattern), which is how snappy encodes runs.

This backs the Avro fallback decoder's "snappy" codec (Avro frames each
block as raw snappy + 4-byte big-endian CRC32 of the uncompressed data —
checked by the caller, see _avro_py.decompress_block). The real snappy
C library is not in this container; at ~container-block sizes (64 KiB)
this pure-Python walk is adequate for the fallback path, and the
connector jar path never reaches it.
"""

from __future__ import annotations


class SnappyError(ValueError):
    pass


def _read_varint(data: bytes, pos: int) -> tuple:
    acc = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise SnappyError("Truncated snappy length varint")
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return acc, pos
        shift += 7
        if shift > 35:
            raise SnappyError("Malformed snappy length varint")


def snappy_uncompress(data: bytes) -> bytes:
    """Decompress one raw snappy block."""
    ulen, pos = _read_varint(data, 0)
    out = bytearray()
    n = len(data)
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 0x03
        if kind == 0:  # literal
            length = tag >> 2
            if length >= 60:
                extra = length - 59  # 60..63 → 1..4 length bytes
                if pos + extra > n:
                    raise SnappyError("Truncated snappy literal length")
                length = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            length += 1
            if pos + length > n:
                raise SnappyError("Truncated snappy literal")
            out += data[pos : pos + length]
            pos += length
            continue
        if kind == 1:  # copy, 1-byte offset
            length = ((tag >> 2) & 0x07) + 4
            if pos >= n:
                raise SnappyError("Truncated snappy copy offset")
            offset = ((tag & 0xE0) << 3) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            length = (tag >> 2) + 1
            if pos + 2 > n:
                raise SnappyError("Truncated snappy copy offset")
            offset = int.from_bytes(data[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            length = (tag >> 2) + 1
            if pos + 4 > n:
                raise SnappyError("Truncated snappy copy offset")
            offset = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > len(out):
            raise SnappyError("Snappy copy offset out of range")
        start = len(out) - offset
        if offset >= length:
            out += out[start : start + length]
        else:
            # overlapping copy: the output grows as we copy (run encoding)
            for i in range(length):
                out.append(out[start + i])
    if len(out) != ulen:
        raise SnappyError(
            "Snappy length mismatch: header %d, decoded %d" % (ulen, len(out))
        )
    return bytes(out)
