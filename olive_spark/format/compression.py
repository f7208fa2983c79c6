"""Compression codecs for olive buffers.

The reference supports exactly four codecs — none / lz4 / lz4_hc / zstd
(reference src/compression.zig:12-21) with levels zstd=1, lz4_hc=3
(src/compression.zig:23-24) and enforces size-exact decompression
(src/compression.zig:85-128).

We back them with pyarrow's bundled codecs (no extra wheels in this
environment): "lz4" → LZ4 frame, "lz4_hc" → LZ4 frame at a high level
(equivalent read path — one decompressor handles both, as with upstream
LZ4), "zstd" → zstd level 1.

Which pages take which codec is the writer's policy (``writer.py``):
zstd on every page under the default ``balanced`` bias, lz4 with lz4_hc
on var-width data under ``read_optimized``.  The codec is recorded per
buffer and the reader decompresses by it, so any codec reads on any
buffer.
"""

from __future__ import annotations

import pyarrow as pa

from olive_spark.format.errors import DecompressFail

CODEC_NAMES = ("none", "lz4", "lz4_hc", "zstd")

_ZSTD_LEVEL = 1  # reference src/compression.zig:23
_LZ4_HC_LEVEL = 9  # stands in for lz4_hc level 3 (pyarrow lz4-frame scale)

_codecs: dict[str, pa.Codec] = {}


def _codec(name: str) -> pa.Codec:
    c = _codecs.get(name)
    if c is None:
        if name == "lz4":
            c = pa.Codec("lz4")
        elif name == "lz4_hc":
            c = pa.Codec("lz4", compression_level=_LZ4_HC_LEVEL)
        elif name == "zstd":
            c = pa.Codec("zstd", compression_level=_ZSTD_LEVEL)
        else:
            raise DecompressFail(f"unknown codec {name!r}")
        _codecs[name] = c
    return c


def compress(name: str, data: bytes) -> bytes:
    """Compress one page. "none" is a passthrough (memcpy in the reference)."""
    if name == "none":
        return data
    return _codec(name).compress(data, asbytes=True)


def decompress(name: str, data: bytes, uncompressed_size: int) -> bytes:
    """Decompress one page, enforcing the exact expected size
    (reference src/compression.zig:120-127: ``res == dst.len``)."""
    if name == "none":
        if len(data) != uncompressed_size:
            raise DecompressFail(
                f"no_compression page size {len(data)} != {uncompressed_size}"
            )
        return data
    codec_name = "lz4" if name == "lz4_hc" else name
    try:
        out = _codec(codec_name).decompress(
            data, decompressed_size=uncompressed_size, asbytes=True
        )
    except Exception as exc:  # noqa: BLE001 — surface as typed error
        raise DecompressFail(str(exc)) from exc
    if len(out) != uncompressed_size:
        raise DecompressFail(
            f"decompressed size {len(out)} != expected {uncompressed_size}"
        )
    return out
