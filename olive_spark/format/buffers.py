"""Low-level buffer slicing / bitmap / paging helpers.

These mirror the reference's buffer plumbing: validity realignment
(reference src/write.zig:997-1008), offset normalization
(src/write.zig:962-980), the fixed-stride pager (src/write.zig:919-960)
and the row-boundary pager for var-width data (src/write.zig:861-917) —
re-expressed over numpy for vectorized execution.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from olive_spark.format.errors import InvalidBufferLen


def bitmap_get_bits(buf: pa.Buffer | None, bit_offset: int, n: int) -> np.ndarray:
    """Return n validity bits starting at bit_offset as a uint8 0/1 array.

    A None buffer means all-valid.
    """
    if n == 0:
        return np.zeros(0, dtype=np.uint8)
    if buf is None:
        return np.ones(n, dtype=np.uint8)
    start_byte = bit_offset // 8
    end_byte = (bit_offset + n + 7) // 8
    if end_byte > len(buf):
        raise InvalidBufferLen(
            f"bitmap too short: need {end_byte} bytes, have {len(buf)}"
        )
    raw = np.frombuffer(buf, dtype=np.uint8, count=end_byte - start_byte, offset=start_byte)
    bits = np.unpackbits(raw, bitorder="little")
    lo = bit_offset - start_byte * 8
    return bits[lo : lo + n]


def pack_bits(bits: np.ndarray) -> bytes:
    """Pack a 0/1 uint8 array into an LSB-first bitmap."""
    return np.packbits(bits, bitorder="little").tobytes()


def make_row_grid(num_rows: int, page_rows: int) -> list[int]:
    """End-row indices for a table's shared page grid.

    Every boundary except the last is a multiple of 8 so that bitmap pages
    start on byte boundaries. This is our analogue of the reference's
    ``row_index_ends`` fences (src/header.zig:41-45) with the added
    invariant that *all buffers of a table share one grid*, which is what
    makes page-granular row skipping line up across columns.
    """
    if num_rows == 0:
        return [0]
    step = max(8, (page_rows // 8) * 8)
    ends = list(range(step, num_rows, step))
    ends.append(num_rows)
    return ends


def grid_starts(ends: list[int]) -> list[int]:
    return [0] + list(ends[:-1])


def child_grid(offsets: np.ndarray, parent_ends: list[int]) -> list[int]:
    """Project a parent row grid into child-element space through offsets.

    offsets is the *normalized* (window-relative) offsets array of length
    parent_len+1.
    """
    return [int(offsets[e]) for e in parent_ends]


def slice_fixed(buf: pa.Buffer, itemsize: int, offset: int, length: int) -> memoryview:
    start = offset * itemsize
    end = (offset + length) * itemsize
    if end > len(buf):
        raise InvalidBufferLen(
            f"fixed buffer too short: need {end} bytes, have {len(buf)}"
        )
    return memoryview(buf)[start:end]


def offsets_dtype(dt: pa.DataType):
    """The numpy dtype of a list, binary or string type's offsets."""
    if (
        pa.types.is_large_list(dt)
        or pa.types.is_large_binary(dt)
        or pa.types.is_large_string(dt)
    ):
        return np.int64
    return np.int32


def normalized_offsets(arr_buf: pa.Buffer, np_dtype, offset: int, length: int) -> np.ndarray:
    """offsets[offset : offset+length+1] rebased to start at 0, as int64
    (reference normalize_offsets, src/write.zig:962-980)."""
    offs = np.frombuffer(arr_buf, dtype=np_dtype, count=length + 1, offset=offset * np_dtype().itemsize)
    return (offs.astype(np.int64) - int(offs[0])) if length >= 0 else offs
