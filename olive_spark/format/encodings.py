"""Per-page encodings of format version 2: how the writer encodes one page
and how the reader decodes it.

The descriptor a page carries (``BufferMeta.encodings``) and its
structural validation live in ``header.py``; everything that touches the
encoded bytes lives here.  Before its codec runs, each page takes the
smallest of up to three encodings, chosen from that page's own data
alone:

- plain;
- frame of reference, ``value - page_min`` in the narrowest of 1, 2, 4
  or 8 bytes: integer, date, time, timestamp and duration values (the
  minimum over valid slots only; null slots store 0), and the u32
  ``lengths`` of binary, list and map columns and ``indices`` of the fsb
  dictionary (over every slot: they shape the data);
- a page dictionary, narrowest codes plus the page's distinct values:
  the values above and floats keyed on their bit pattern, and strings
  and binary.  It is tried only on pages of ``DICT_MIN_ROWS`` rows or
  more whose sampled distinct count predicts it beats the other
  candidates, since a trial costs a hash pass over the page.

Fixed-width candidates are compared by encoded size; the codec the
writer's bias picks (zstd under ``balanced``, lz4 under
``read_optimized``) then runs on the winner.  Binary candidates are
compared compressed, lengths or codes under that same codec and value
bytes under the data codec, since the codec can undo much of what a
dictionary saves on the value bytes.

Decoding is vectorised numpy/pyarrow, one page at a time.  A dictionary
code at or past the dictionary's size, a base plus code outside the
logical type, or a page whose size disagrees with its descriptor raises
a typed error like any other hostile byte.
"""

from __future__ import annotations

from typing import Any, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from olive_spark.format import buffers as B
from olive_spark.format.compression import compress
from olive_spark.format.errors import BufferTooBig, LengthMismatch, ValidationError
from olive_spark.format.header import ENCODING_WIDTHS, MAX_BUFFER_BYTES

UINT = {w: np.dtype(f"<u{w}") for w in ENCODING_WIDTHS}
U32 = UINT[4]

# smaller pages skip the page-dictionary trial: it costs a hash pass and
# cannot save enough bytes to pay for it
DICT_MIN_ROWS = 64
_SAMPLE_ROWS = 256  # rows sampled to predict a page's distinct count


def value_dtype(dt: pa.DataType) -> Optional[np.dtype]:
    """The numpy dtype of a primitive column whose pages take an encoding:
    integers, dates, times, timestamps and durations (frame of reference
    and page dictionary) and floats (page dictionary); None otherwise."""
    if pa.types.is_floating(dt):
        return np.dtype(f"<f{dt.byte_width}")
    if pa.types.is_unsigned_integer(dt):
        return UINT[dt.byte_width]
    if (
        pa.types.is_signed_integer(dt) or pa.types.is_date(dt) or pa.types.is_time(dt)
        or pa.types.is_timestamp(dt) or pa.types.is_duration(dt)
    ):
        return np.dtype(f"<i{dt.byte_width}")
    return None


def page_encodings(encs: list) -> Optional[list]:
    """A buffer's page descriptors, None when every page is plain."""
    return encs if any(e is not None for e in encs) else None


# ---- encoding (writer) ---------------------------------------------------


def _code_width(span: int) -> int:
    """The narrowest encoding width whose codes hold 0..span."""
    return next(w for w in ENCODING_WIDTHS if span >> (8 * w) == 0)


def _distinct_estimate(values: np.ndarray | pa.Array, rows: int) -> int:
    """Predict a page's distinct count from an even sample of its values
    (nulls left out): among s sampled values with r repeats, about
    s(s-1)/2r distinct (birthday estimate), at most ``rows``; exact when
    the sample is the whole page."""
    step = max(1, len(values) // _SAMPLE_ROWS)
    if isinstance(values, np.ndarray):
        sample = values[::step][:_SAMPLE_ROWS]
        s, distinct = len(sample), len(np.unique(sample))
    else:
        sample = values.take(np.arange(0, len(values), step)[:_SAMPLE_ROWS])
        s = len(sample) - sample.null_count
        distinct = pc.count_distinct(sample).as_py()
    if len(sample) == len(values):
        return distinct
    repeats = s - distinct
    if repeats == 0:
        return rows
    return min(rows, max(distinct, s * (s - 1) // (2 * repeats)))


def for_page(vals: np.ndarray, live: np.ndarray, valid: Optional[np.ndarray]):
    """Frame-of-reference candidate for one page of integers,
    ``(descriptor, payload)``, or None when it would not narrow them.
    ``live`` are the valid values, which alone set the range; null slots
    (``valid`` false) store code 0."""
    lo, hi = int(live.min()), int(live.max())
    w = _code_width(hi - lo)
    if w >= vals.itemsize:
        return None
    u = UINT[vals.itemsize]
    codes = vals.view(u) - u.type(lo % (1 << (8 * vals.itemsize)))  # mod 2^bits
    if valid is not None:
        codes[~valid] = 0
    return ["for", w, lo], codes.astype(UINT[w]).tobytes()


def _dict_page(vals: np.ndarray, live: np.ndarray, valid: Optional[np.ndarray], best: int):
    """Page-dictionary candidate for one page of fixed-width values keyed
    on their bit pattern, ``(descriptor, payload)``, or None when it is
    predicted or found no smaller than ``best`` bytes."""
    rows, k = len(vals), vals.itemsize
    n_est = _distinct_estimate(live, rows)
    if n_est * k + rows * _code_width(n_est - 1) >= best:
        return None
    u = UINT[k]
    keys = vals.view(u)
    if valid is not None:
        keys = keys.copy()
        keys[~valid] = live.view(u)[0]
    enc = pc.dictionary_encode(pa.array(keys))
    n = len(enc.dictionary)
    w = _code_width(n - 1)
    if n * k + rows * w >= best:
        return None
    codes = np.asarray(enc.indices).astype(UINT[w])
    return ["dict", w, n], np.asarray(enc.dictionary).tobytes() + codes.tobytes()


def encode_fixed(vals: np.ndarray, valid: Optional[np.ndarray], dict_ok: bool):
    """The smallest of plain, frame of reference (integers) and a page
    dictionary (``dict_ok``) for one page: ``(descriptor, payload)``,
    descriptor None for plain.  ``valid`` marks the slots that are not
    null (None: all are)."""
    live = vals if valid is None else vals[valid]
    if not len(live):
        return None, vals.tobytes()
    best = for_page(vals, live, valid) if vals.dtype.kind in "iu" else None
    size = len(best[1]) if best else vals.nbytes
    if dict_ok and len(vals) >= DICT_MIN_ROWS and size > len(vals):
        best = _dict_page(vals, live, valid, size) or best
    return best or (None, vals.tobytes())


def _dict_binary(page: pa.Array, data_bytes: int, best: int):
    """Page-dictionary candidate for one page of a binary column holding
    ``data_bytes`` of values, ``(descriptor, lengths payload, data
    payload)``, or None when it is predicted no smaller than ``best``
    bytes before compression."""
    rows = len(page)
    live = rows - page.null_count
    if not live:
        return None
    n_est = _distinct_estimate(page, rows)
    if n_est * (data_bytes / live + 4) + rows * _code_width(n_est - 1) >= best:
        return None
    enc = pc.dictionary_encode(page)
    d = enc.dictionary
    n = len(d)
    w = _code_width(n - 1)
    odt = B.offsets_dtype(d.type)
    offs = np.frombuffer(d.buffers()[1], odt, n + 1, d.offset * odt().itemsize)
    dlens = np.diff(offs).astype(np.uint32)
    ddata = bytes(memoryview(d.buffers()[2] or b"")[int(offs[0]) : int(offs[-1])])
    codes = enc.indices.fill_null(0) if page.null_count else enc.indices
    codes = np.asarray(codes).astype(UINT[w])
    return ["dict", w, n], dlens.tobytes() + codes.tobytes(), ddata


def encode_binary(
    page: pa.Array, lens: np.ndarray, data: bytes, lens_codec: str, data_codec: str
):
    """One page of a binary column, its u32 ``lens`` and value bytes
    ``data`` → ``(descriptor, lengths payload, data payload, compressed
    lengths or None, compressed data or None)``.  The page stores either
    its values (lengths by frame of reference when that narrows them) or
    a page dictionary, whichever compresses smaller (lengths or codes with
    ``lens_codec``, data with ``data_codec``); the compressed payloads are
    returned when the comparison made them."""
    enc, lraw = (len(lens) and for_page(lens, lens, None)) or (None, lens.tobytes())
    # equal lengths compress to nothing, and values of one width compress
    # well as they are
    if len(lens) >= DICT_MIN_ROWS and lens.min() != lens.max():
        cand = _dict_binary(page, len(data), len(data) + len(lraw))
        if cand is not None:
            comp = compress(lens_codec, lraw), compress(data_codec, data)
            ccomp = compress(lens_codec, cand[1]), compress(data_codec, cand[2])
            if len(ccomp[0]) + len(ccomp[1]) < len(comp[0]) + len(comp[1]):
                return (*cand, *ccomp)
            return (enc, lraw, data, *comp)
    return enc, lraw, data, None, None


# ---- decoding (reader) ---------------------------------------------------


def decode_for(raw: bytes, enc: list, rows: int, dt: np.dtype) -> np.ndarray:
    """A frame-of-reference page → its ``rows`` integers of dtype ``dt``."""
    _, w, base = enc
    if dt.kind not in "iu":
        raise ValidationError(f"frame-of-reference page on {dt} values")
    if len(raw) != rows * w:
        raise LengthMismatch(f"frame-of-reference page {len(raw)}B != {rows}×{w}B")
    codes = np.frombuffer(raw, UINT[w])
    bits = 8 * dt.itemsize
    lo, hi = (-(1 << (bits - 1)), (1 << (bits - 1)) - 1) if dt.kind == "i" else (0, (1 << bits) - 1)
    top = (1 << (8 * w)) - 1  # the largest code the width holds ...
    if base + top > hi:  # ... or, when that could overflow, the page's
        top = int(codes.max()) if rows else 0
    if not lo <= base <= hi - top:
        raise ValidationError(
            f"frame-of-reference base {base} + code {top} overflows {dt}"
        )
    u = UINT[dt.itemsize]
    out = codes.astype(u)
    out += u.type(base % (1 << bits))  # mod 2^bits, then the signed view
    return out.view(dt)


def _dict_codes(raw: bytes, enc: list, rows: int, entry_bytes: int) -> np.ndarray:
    """The codes of a page-dictionary page whose ``n`` entries take
    ``entry_bytes`` each, checked against the dictionary's size."""
    _, w, n = enc
    if len(raw) != n * entry_bytes + rows * w:
        raise LengthMismatch(
            f"dictionary page {len(raw)}B != {n}×{entry_bytes}B + {rows}×{w}B"
        )
    codes = np.frombuffer(raw, UINT[w], offset=n * entry_bytes)
    if rows and int(codes.max()) >= n:
        raise ValidationError(f"dictionary code {int(codes.max())} >= dictionary size {n}")
    return codes


def decode_fixed(raw: bytes, enc: list, rows: int, dt: np.dtype) -> np.ndarray:
    """A frame-of-reference or page-dictionary page → its ``rows``
    elements of dtype ``dt``, as bytes."""
    if enc[0] == "for":
        return decode_for(raw, enc, rows, dt).view(np.uint8)
    codes = _dict_codes(raw, enc, rows, dt.itemsize)
    values = np.frombuffer(raw, UINT[dt.itemsize], count=enc[2])
    return np.take(values, codes).view(np.uint8)


def decode_dict_binary(
    lraw: bytes, data: bytes, enc: list, rows: int
) -> tuple[np.ndarray, Any]:
    """A binary column's dictionary page pair → (u32 lengths, value bytes)."""
    n = enc[2]
    codes = _dict_codes(lraw, enc, rows, 4)
    dlens = np.frombuffer(lraw, U32, count=n)
    doffs = np.zeros(n + 1, np.int64)
    np.cumsum(dlens, out=doffs[1:])
    if int(doffs[-1]) != len(data):
        raise LengthMismatch("dictionary value bytes != dictionary lengths")
    lengths = np.take(dlens, codes)
    total = int(lengths.sum(dtype=np.int64))
    if total > MAX_BUFFER_BYTES:
        raise BufferTooBig(f"dictionary page expands past {MAX_BUFFER_BYTES} bytes")
    values = pa.Array.from_buffers(
        pa.large_binary(), n, [None, pa.py_buffer(doffs), pa.py_buffer(data)]
    )
    taken = values.take(pa.array(codes))
    out = taken.buffers()[2]
    return lengths, b"" if out is None else memoryview(out)[:total]
