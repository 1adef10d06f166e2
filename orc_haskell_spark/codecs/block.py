"""Chunked general-purpose block compression with a store-uncompressed escape.

Reference semantics: streams are split into ≤262,144-byte chunks; each
chunk carries a small header whose low bit says "isOriginal" — if the
compressor didn't shrink the chunk, raw bytes are stored instead
(src/Orc/Serial/Binary/Internal/Compression.hs:71-92 read, :126-168
write; chunker resizeChunks src/Orc/X/Streaming.hs:134-163). Supported
compressors there: snappy / zlib raw-deflate / zstd (:95-118, :171-184).

Our chunk header is 8 bytes LE — u32 (payload_len << 1 | is_original),
u32 raw_len — slightly wider than ORC's 3 bytes because pyarrow's
snappy/zstd decoders want the decompressed size up front. The escape-bit
semantics (the reference's only "codec fallback", generalized by
selector.py) are identical.
"""

from __future__ import annotations

import struct
import zlib

import pyarrow as pa

# Documented deviation from the reference's 262,144-byte chunks
# (Striped.hs:593): 1 MiB measured +12% encode throughput at -1.4%
# ratio on pages (zstd-3 amortizes its context + finds longer matches).
# Chunks are length-prefixed and self-describing, so readers accept any
# chunk size — old stripes decode unchanged. The .orc interop layer
# (orcfile/compression.py) keeps the spec's exact 256 KiB framing.
CHUNK = 1 << 20

_PA_CODECS = {}
for _name in ("snappy", "zstd", "lz4"):
    try:
        if pa.Codec.is_available(_name):
            _PA_CODECS[_name] = pa.Codec(_name)
    except Exception:  # pragma: no cover - codec probing
        pass

AVAILABLE = ("none", "zlib", *_PA_CODECS.keys())


_LEVELED_CODECS: dict = {}


def _leveled(codec: str, level: int | None):
    if level is None:
        return _PA_CODECS[codec]
    key = (codec, level)
    if key not in _LEVELED_CODECS:
        try:
            _LEVELED_CODECS[key] = pa.Codec(codec, compression_level=level)
        except Exception:  # codec without level support
            _LEVELED_CODECS[key] = _PA_CODECS[codec]
    return _LEVELED_CODECS[key]


def _compress_chunk(chunk: bytes, codec: str, level: int | None) -> bytes:
    if codec == "zlib":
        c = zlib.compressobj(level if level is not None else 6, zlib.DEFLATED, -15)
        return c.compress(chunk) + c.flush()
    return _leveled(codec, level).compress(chunk, asbytes=True)


def _decompress_chunk(payload: bytes, raw_len: int, codec: str) -> bytes:
    if codec == "zlib":
        return zlib.decompress(payload, -15, raw_len)
    return _PA_CODECS[codec].decompress(payload, raw_len, asbytes=True)


def compress(data: bytes, codec: str, level: int | None = None) -> bytes:
    """Compress a stream in ≤CHUNK-byte (1 MiB) self-describing chunks;
    store a chunk raw when compression doesn't shrink it."""
    if codec == "none":
        return data
    if codec not in AVAILABLE:
        raise ValueError(f"unsupported compression codec {codec!r} "
                         f"(available: {AVAILABLE})")
    out = bytearray()
    view = memoryview(data)
    for pos in range(0, len(data), CHUNK):
        chunk = bytes(view[pos: pos + CHUNK])
        packed = _compress_chunk(chunk, codec, level)
        if len(packed) < len(chunk):
            out += struct.pack("<II", (len(packed) << 1) | 0, len(chunk))
            out += packed
        else:  # isOriginal escape (Compression.hs:160-166)
            out += struct.pack("<II", (len(chunk) << 1) | 1, len(chunk))
            out += chunk
    return bytes(out)


def decompress(buf: bytes | memoryview, codec: str):
    """Inverse of ``compress``. ``buf`` may be a memoryview slice of a
    stripe payload: chunks decompress straight out of it, a one-chunk
    stream is returned as its codec's output (or, stored raw, as a
    slice of ``buf``), and a multi-chunk stream is decompressed into one
    buffer sized from the chunk headers."""
    if codec == "none":
        return buf
    view = memoryview(buf)
    chunks = []
    pos = total = 0
    while pos < len(view):
        if pos + 8 > len(view):
            raise ValueError("block stream truncated")
        head, raw_len = struct.unpack_from("<II", view, pos)
        pos += 8
        plen = head >> 1
        if pos + plen > len(view):
            raise ValueError("block stream truncated")
        chunks.append((view[pos: pos + plen], raw_len, head & 1))
        pos += plen
        total += raw_len

    def chunk_bytes(payload, raw_len, original):
        return payload if original else _decompress_chunk(payload, raw_len,
                                                          codec)

    if len(chunks) == 1:
        return chunk_bytes(*chunks[0])
    out = bytearray(total)
    pos = 0
    for c in chunks:
        part = chunk_bytes(*c)
        out[pos: pos + len(part)] = part
        pos += len(part)
    del out[pos:]  # headers over-stated the size: keep what was decoded
    return out
