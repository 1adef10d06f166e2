"""ORC compression framing: 3-byte chunk headers + per-codec blocks.

Spec: every compressed stream is a sequence of chunks, each prefixed
with a 3-byte little-endian header h where isOriginal = h & 1 and
chunkLength = h >> 3... no — chunkLength = h >> 1 (the low bit is the
isOriginal flag). When the file's compression kind is NONE there is no
framing at all. The reference implements the identical scheme in
/root/reference/src/Orc/Serial/Binary/Internal/Compression.hs:126-184.

Codec notes (all verified against pyarrow's C++ ORC writer output):
- ZLIB is raw DEFLATE (no zlib wrapper) -> stdlib zlib, wbits=-15
- SNAPPY is the raw block format; its uvarint preamble carries the
  exact uncompressed size (pyarrow's decompress requires it)
- ZSTD is a standard frame; the frame-header FCS field carries the
  content size when the writer knows it (C++ ORC does)
- LZ4 is the raw block format with NO embedded size -> pure-Python
  block decoder (interop path only; never the hot path)
"""

from __future__ import annotations

import zlib

HEADER_LEN = 3


def _pa_codec(name: str):
    import pyarrow as pa

    return pa.Codec(name)


def _snappy_uncompressed_len(buf: bytes) -> int:
    result, shift, pos = 0, 0, 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result
        shift += 7


def _zstd_content_size(buf: bytes) -> int:
    """Parse the zstd frame header Frame_Content_Size field."""
    if len(buf) < 5 or int.from_bytes(buf[:4], "little") != 0xFD2FB528:
        raise ValueError("not a zstd frame")
    fhd = buf[4]
    fcs_code = fhd >> 6
    single_segment = (fhd >> 5) & 1
    pos = 5
    if (fhd & 0x20) == 0:  # not single-segment: window descriptor byte
        pos += 1 if not single_segment else 0
    # dictionary id field
    did_size = (0, 1, 2, 4)[fhd & 3]
    pos += did_size
    if fcs_code == 0:
        if single_segment:
            return buf[pos]
        raise ValueError("zstd frame has no content size")
    if fcs_code == 1:
        return int.from_bytes(buf[pos:pos + 2], "little") + 256
    if fcs_code == 2:
        return int.from_bytes(buf[pos:pos + 4], "little")
    return int.from_bytes(buf[pos:pos + 8], "little")


def _lz4_block_decompress(src: bytes) -> bytes:
    """Pure-Python LZ4 block decode (no size header in ORC's LZ4)."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        out += src[i:i + lit]
        i += lit
        if i >= n:
            break  # last sequence has no match part
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ValueError("corrupt lz4 block: zero offset")
        mlen = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt lz4 block: offset past start")
        for _ in range(mlen):  # may overlap; must copy byte-wise
            out.append(out[start])
            start += 1
    return bytes(out)


def decompress_chunk(payload: bytes, kind: str) -> bytes:
    if kind == "ZLIB":
        return zlib.decompress(payload, -15)
    if kind == "SNAPPY":
        size = _snappy_uncompressed_len(payload)
        return _pa_codec("snappy").decompress(payload, size).to_pybytes()
    if kind == "ZSTD":
        size = _zstd_content_size(payload)
        return _pa_codec("zstd").decompress(payload, size).to_pybytes()
    if kind == "LZ4":
        return _lz4_block_decompress(payload)
    raise ValueError(f"unsupported ORC compression {kind}")


def compress_chunk(chunk: bytes, kind: str, level: int | None = None) -> bytes:
    if kind == "ZLIB":
        c = zlib.compressobj(level if level is not None else 6, zlib.DEFLATED, -15)
        return c.compress(chunk) + c.flush()
    if kind == "SNAPPY":
        return _pa_codec("snappy").compress(chunk).to_pybytes()
    if kind == "ZSTD":
        return _pa_codec("zstd").compress(chunk).to_pybytes()
    if kind == "LZ4":
        return _pa_codec("lz4_raw").compress(chunk).to_pybytes()
    raise ValueError(f"unsupported ORC compression {kind}")


def decompress_stream(buf: bytes, kind: str) -> bytes:
    """Decode a whole (possibly multi-chunk) compressed stream."""
    if kind == "NONE":
        return buf
    out = bytearray()
    pos, end = 0, len(buf)
    while pos < end:
        h = int.from_bytes(buf[pos:pos + HEADER_LEN], "little")
        pos += HEADER_LEN
        is_original = h & 1
        ln = h >> 1
        payload = buf[pos:pos + ln]
        if len(payload) != ln:
            raise ValueError("truncated ORC compression chunk")
        pos += ln
        out += payload if is_original else decompress_chunk(bytes(payload), kind)
    return bytes(out)


def _frame(data: bytes, kind: str, block_size: int, level: int | None,
           offsets: list[int] | None = None) -> bytes:
    """Chunk-frame ``data``; append each chunk's compressed start offset
    to ``offsets`` when given."""
    out = bytearray()
    for start in range(0, len(data), block_size):
        if offsets is not None:
            offsets.append(len(out))
        chunk = data[start:start + block_size]
        comp = compress_chunk(chunk, kind, level)
        if len(comp) < len(chunk):
            out += (len(comp) << 1).to_bytes(HEADER_LEN, "little") + comp
        else:  # isOriginal escape: store raw
            out += ((len(chunk) << 1) | 1).to_bytes(HEADER_LEN, "little") \
                + chunk
    return bytes(out)


def compress_stream(data: bytes, kind: str, block_size: int = 256 * 1024,
                    level: int | None = None) -> bytes:
    """Encode a stream into ORC chunk framing (identity when NONE)."""
    if kind == "NONE" or not data:
        return data
    return _frame(data, kind, block_size, level)


def compress_stream_offsets(data: bytes, kind: str,
                            block_size: int = 256 * 1024,
                            level: int | None = None
                            ) -> tuple[bytes, list[int]]:
    """compress_stream plus the COMPRESSED start offset of every raw
    block — the mapping ROW_INDEX positions need: a raw offset b lives
    in chunk b // block_size at in-chunk offset b % block_size, and the
    chunk begins at offsets[b // block_size] in the compressed stream."""
    if kind == "NONE":
        return data, []
    offsets: list[int] = []
    return _frame(data, kind, block_size, level, offsets), offsets
