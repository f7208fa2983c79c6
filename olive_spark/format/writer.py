"""Olive chunk writer: {name: pyarrow.Table} → framed file bytes.

Parity with the reference write path (reference src/write.zig:35-101):
global fsb{20,32} dictionaries written first as uncompressed pages
(src/write.zig:69-72,103-112), then per table / per field a type-dispatched
array writer (src/write.zig:114-232) that canonicalizes physical-only
encodings and emits paged, per-buffer-compressed buffers into one
contiguous data section with a monotone cursor (src/write.zig:982-993).

Codec policy parity (SURVEY.md §2.1): primitive/bool/fsb values, lengths,
validity, type metadata → lz4; var-width *data* → zstd (``balanced`` bias)
or lz4_hc (``read_optimized``) (src/write.zig:802-811); dicts uncompressed.

Page encodings (format version 2, ``encodings.py``): before its codec
runs, each page of a fixed-width buffer, of u32 lengths or of binary data
takes the smallest of plain, frame of reference (integers and lengths)
and a page dictionary (integers, floats, strings, binary), chosen from
that page's own data alone; the codec policy above is unchanged.  Stats
and blooms are computed over logical values, before encoding.

Deviations (our spec, documented in SURVEY.md §7): all buffers of a table
share ONE row grid (page boundaries at common row indices, multiples of 8)
so that page-granular row skipping lines up across columns; var-width
columns store per-row u32 lengths instead of offsets (equivalent, page-
friendly); optional per-page min/max stats (extension — reference stores
none).
"""

from __future__ import annotations

import math
from typing import Any, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from olive_spark.format import buffers as B
from olive_spark.format.compression import compress
from olive_spark.format.encodings import (
    encode_binary,
    encode_fixed,
    page_encodings,
    value_dtype,
)
from olive_spark.format.errors import DataSectionOverflow, ValidationError
from olive_spark.format.header import (
    FORMAT_VERSION,
    MAX_DATA_SECTION,
    ArrayHeader,
    BufferMeta,
    ChunkHeader,
    DictMeta,
    Page,
    TableHeader,
    frame_file,
)
from olive_spark.format.types import canonicalize_array, type_to_json

DEFAULT_PAGE_ROWS = 65536
DICT_WIDTHS = (20, 32)


class _DataSection:
    """Monotone-cursor data section with the 4 GiB overflow guard
    (reference src/write.zig:982-993)."""

    def __init__(self) -> None:
        self.buf = bytearray()

    def write_page(self, codec: str, raw: bytes, comp: Optional[bytes] = None) -> Page:
        """Append one page; ``comp`` is ``raw`` already compressed."""
        if comp is None:
            comp = compress(codec, bytes(raw))
        off = len(self.buf)
        if off + len(comp) > MAX_DATA_SECTION:
            raise DataSectionOverflow(
                f"data section would exceed {MAX_DATA_SECTION} bytes"
            )
        self.buf += comp
        return Page(off, len(raw), len(comp))


class _DictContext:
    """Two file-global sorted dictionaries of 20- and 32-byte values shared
    by all tables in the chunk (reference src/dict.zig:209-212). Values are
    kept as numpy void arrays; sort order is lexicographic (SURVEY.md §7.4:
    we promise value-level equality, not index parity with the reference's
    elementwise-AND ordering quirk)."""

    def __init__(self) -> None:
        self.collected: dict[int, list[np.ndarray]] = {20: [], 32: []}
        self.sorted_vals: dict[int, np.ndarray] = {}

    def collect(self, width: int, vals: np.ndarray) -> None:
        self.collected[width].append(vals)

    def build(self) -> None:
        for w in DICT_WIDTHS:
            if self.collected[w]:
                allv = np.concatenate(self.collected[w])
                self.sorted_vals[w] = np.unique(allv)

    def encode(self, width: int, vals: np.ndarray, valid_bits: np.ndarray) -> np.ndarray:
        """fsb values → u32 indices (nulls → 0, like the reference's
        missing→0 policy, src/dict.zig:136-169)."""
        d = self.sorted_vals[width]
        idx = np.searchsorted(d, vals).astype(np.uint32)
        idx[valid_bits == 0] = 0
        np.minimum(idx, max(len(d) - 1, 0), out=idx)
        return idx


def _collect_fsb_values(arr: pa.Array, ctx: _DictContext) -> None:
    """Pass 1 of the global dict encode: recurse through nesting pushing all
    non-null fsb{20,32} values (reference src/dict.zig:493-536,538-694)."""
    arr = canonicalize_array(arr)
    dt = arr.type
    if pa.types.is_fixed_size_binary(dt) and dt.byte_width in DICT_WIDTHS:
        w = dt.byte_width
        vals = _fsb_values(arr, 0, len(arr), w)
        bits = B.bitmap_get_bits(arr.buffers()[0], arr.offset, len(arr))
        ctx.collect(w, vals[bits == 1])
    elif pa.types.is_list(dt) or pa.types.is_large_list(dt) or pa.types.is_fixed_size_list(dt):
        _collect_fsb_values(arr.flatten(), ctx)
    elif pa.types.is_struct(dt):
        for i in range(dt.num_fields):
            _collect_fsb_values(arr.field(i), ctx)
    elif pa.types.is_map(dt):
        _collect_fsb_values(arr.keys, ctx)
        _collect_fsb_values(arr.items, ctx)


def _fsb_values(arr: pa.Array, win_off: int, win_len: int, width: int) -> np.ndarray:
    raw = B.slice_fixed(arr.buffers()[1], width, arr.offset + win_off, win_len)
    return np.frombuffer(raw, dtype=np.dtype((np.void, width)))


_STATS_OK = (
    pa.types.is_integer,
    pa.types.is_floating,
    pa.types.is_decimal,
    pa.types.is_date,
    pa.types.is_timestamp,
    pa.types.is_string,
    pa.types.is_large_string,
)


from olive_spark.format.manifest import _string_upper_bound  # noqa: E402


def _stats_value(v: Any, direction: str) -> Any:
    """Make a min/max scalar JSON-safe and CONSERVATIVE for pruning;
    None disables the stat.  ``direction`` is "min" or "max": a stored
    min must never exceed any value, a stored max must never undercut
    one, so lossy representations round OUTWARD:

    - long strings: a 64-char prefix is a valid lower bound as-is; for
      a max the prefix is bumped (last code point +1, then cut) so it
      upper-bounds every string it truncated — plain prefix truncation
      of a max would UNDERSTATE it and prune files that contain matches;
    - decimals: compared as floats (numeric order; strings would be
      lexicographic and unsound, '9.00' > '10.00'), widened one ulp
      outward to absorb the decimal→binary rounding.
    """
    if v is None:
        return None
    obj = v.as_py() if isinstance(v, pa.Scalar) else v
    if obj is None:
        return None
    if isinstance(obj, bool):
        return None
    if isinstance(obj, float):
        return obj if math.isfinite(obj) else None
    if isinstance(obj, int):
        return obj
    if isinstance(obj, str):
        if len(obj) <= 64:
            return obj
        pre = obj[:64]
        return pre if direction == "min" else _string_upper_bound(pre)
    # dates/timestamps/decimals → compare in an ordinal/numeric domain
    try:
        import datetime
        import decimal

        if isinstance(obj, datetime.datetime):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=obj.tzinfo)
            return int((obj - epoch).total_seconds() * 1_000_000)
        if isinstance(obj, datetime.date):
            return (obj - datetime.date(1970, 1, 1)).days
        if isinstance(obj, decimal.Decimal):
            f = float(obj)
            if not math.isfinite(f):
                return None
            widened = math.nextafter(
                f, -math.inf if direction == "min" else math.inf
            )
            return widened if math.isfinite(widened) else None
    except Exception:  # noqa: BLE001
        return None
    return None


class ChunkWriter:
    def __init__(
        self,
        *,
        page_rows: int = DEFAULT_PAGE_ROWS,
        compression_bias: str = "balanced",
        dict_encode: bool = True,
        collect_stats: bool = True,
        bloom_columns: "tuple[str, ...] | list[str]" = (),
        field_ids: "dict | None" = None,
    ) -> None:
        if compression_bias not in ("balanced", "read_optimized"):
            raise ValidationError(f"bad compression bias {compression_bias!r}")
        self.page_rows = page_rows
        # reference src/write.zig:30-33,805-808
        self.data_codec = "zstd" if compression_bias == "balanced" else "lz4_hc"
        self.dict_encode = dict_encode
        self.collect_stats = collect_stats
        self.bloom_columns = tuple(bloom_columns)
        # column-mapping IDs ({column name: id}) to stamp into each
        # table header — the sidecar's stable ids (table_schema.py).
        # All-or-nothing per table: a partial stamp would leave the
        # uncovered columns resolving by the legacy-name path while
        # their neighbors resolve by id — refuse instead.
        self.field_ids = dict(field_ids) if field_ids else None

    def write(self, tables: dict[str, pa.Table]) -> bytes:
        if not tables:
            raise ValidationError("chunk must contain at least one table")
        out = _DataSection()
        combined: dict[str, pa.Table] = {}
        for name, t in tables.items():
            combined[name] = t.combine_chunks()

        ctx: Optional[_DictContext] = None
        dict20 = dict32 = None
        if self.dict_encode:
            ctx = _DictContext()
            for t in combined.values():
                for col in t.columns:
                    arr = col.chunk(0) if col.num_chunks else pa.array([], col.type)
                    _collect_fsb_values(arr, ctx)
            ctx.build()
            # dicts first, single uncompressed page (reference
            # src/write.zig:69-72,103-112)
            for w in DICT_WIDTHS:
                vals = ctx.sorted_vals.get(w)
                if vals is not None and len(vals):
                    raw = vals.tobytes()
                    page = out.write_page("none", raw)
                    meta = DictMeta(w, page.offset, len(raw))
                    if w == 20:
                        dict20 = meta
                    else:
                        dict32 = meta

        theaders: list[TableHeader] = []
        for name, t in combined.items():
            n = t.num_rows
            grid = B.make_row_grid(n, self.page_rows)
            fields: list[ArrayHeader] = []
            ftypes: list[Any] = []
            for fname, col in zip(t.column_names, t.columns):
                arr = col.chunk(0) if col.num_chunks else pa.array([], col.type)
                arr = canonicalize_array(arr)
                if len(arr) != n:
                    raise ValidationError(
                        f"column {fname!r} length {len(arr)} != table rows {n}"
                    )
                ftypes.append(type_to_json(arr.type))
                ah = self._write_array(out, arr, 0, n, grid, ctx, top_level=True)
                if fname in self.bloom_columns:
                    # built over LOGICAL values (pre-dict-encode), so
                    # probes use predicate literals directly
                    from olive_spark.format.bloom import build_bloom

                    ah.bloom = build_bloom(arr)
                fields.append(ah)
            fids = None
            if self.field_ids is not None:
                missing = [c for c in t.column_names if c not in self.field_ids]
                if missing:
                    raise ValidationError(
                        f"field_ids missing columns {missing} of table "
                        f"{name!r} — ids are all-or-nothing per table"
                    )
                fids = [int(self.field_ids[c]) for c in t.column_names]
            theaders.append(TableHeader(
                name, n, list(t.column_names), ftypes, fields, fids
            ))

        header = ChunkHeader(FORMAT_VERSION, theaders, dict20, dict32, len(out.buf))
        return frame_file(header, bytes(out.buf))

    # ---- buffer emission -------------------------------------------------

    def _emit_fixed(
        self,
        out: _DataSection,
        data: memoryview,
        itemsize: int,
        grid: list[int],
        dtype: Optional[np.dtype] = None,
        valid: Optional[np.ndarray] = None,
        dict_ok: bool = False,
    ) -> BufferMeta:
        """Fixed-stride lz4 pager on the row grid (± reference
        src/write.zig:919-960).  With ``dtype``, the elements' integer or
        float dtype, each page is encoded first (``encodings.encode_fixed``);
        ``valid`` marks the slots that are not null."""
        pages, encs = [], []
        starts = B.grid_starts(grid)
        for a, b in zip(starts, grid):
            raw = data[a * itemsize : b * itemsize]
            enc = None
            if dtype is not None and b > a:
                v = None if valid is None else valid[a:b]
                enc, raw = encode_fixed(np.frombuffer(raw, dtype), v, dict_ok)
            pages.append(out.write_page("lz4", raw))
            encs.append(enc)
        return BufferMeta("lz4", pages, list(grid), page_encodings(encs))

    def _emit_bitmap(
        self, out: _DataSection, bits: np.ndarray, grid: list[int]
    ) -> BufferMeta:
        """Bitmap pager: each page packed from bit 0 (grid boundaries are
        byte-aligned by construction; ± reference maybe_align_bitmap,
        src/write.zig:997-1008)."""
        pages = []
        starts = B.grid_starts(grid)
        for a, b in zip(starts, grid):
            pages.append(out.write_page("lz4", B.pack_bits(bits[a:b])))
        return BufferMeta("lz4", pages, list(grid))

    def _emit_binary(
        self,
        out: _DataSection,
        arr: pa.Array,
        data: memoryview,
        offs: np.ndarray,
        grid: list[int],
    ) -> tuple[BufferMeta, BufferMeta]:
        """Row-boundary pager for var-width data and its u32 lengths
        (± reference src/write.zig:861-917): pages close exactly on grid
        row boundaries; row_index_ends records the end row per page.
        ``arr`` is the column's window; each page is encoded by
        ``encodings.encode_binary``."""
        codec = self.data_codec
        lengths = np.diff(offs).astype(np.uint32)
        dpages, lpages, encs = [], [], []
        starts = B.grid_starts(grid)
        for a, b in zip(starts, grid):
            enc, lraw, draw, lcomp, dcomp = encode_binary(
                arr.slice(a, b - a), lengths[a:b],
                bytes(data[int(offs[a]) : int(offs[b])]), codec,
            )
            lpages.append(out.write_page("lz4", lraw, lcomp))
            dpages.append(out.write_page(codec, draw, dcomp))
            encs.append(enc)
        return (
            BufferMeta(codec, dpages, list(grid)),
            BufferMeta("lz4", lpages, list(grid), page_encodings(encs)),
        )

    def _page_stats(self, arr: pa.Array, win_off: int, grid: list[int]) -> Optional[dict]:
        if not self.collect_stats or not any(p(arr.type) for p in _STATS_OK):
            return None
        mins: list[Any] = []
        maxs: list[Any] = []
        starts = B.grid_starts(grid)
        for a, b in zip(starts, grid):
            sl = arr.slice(win_off + a, b - a)
            try:
                mm = pc.min_max(sl)
                mins.append(_stats_value(mm["min"], "min"))
                maxs.append(_stats_value(mm["max"], "max"))
            except Exception:  # noqa: BLE001
                mins.append(None)
                maxs.append(None)
        if all(m is None for m in mins):
            return None
        return {"min": mins, "max": maxs}

    # ---- array writers (type dispatch ± reference src/write.zig:114-232) --

    def _write_array(
        self,
        out: _DataSection,
        arr: pa.Array,
        win_off: int,
        win_len: int,
        grid: list[int],
        ctx: Optional[_DictContext],
        *,
        top_level: bool = False,
    ) -> ArrayHeader:
        arr = canonicalize_array(arr)
        dt = arr.type
        abs_off = arr.offset + win_off

        if pa.types.is_null(dt):
            return ArrayHeader("null", win_len, win_len)

        vbuf = arr.buffers()[0]
        bits = B.bitmap_get_bits(vbuf, abs_off, win_len)
        null_count = int(win_len - bits.sum())
        bufs: dict[str, BufferMeta] = {}
        # validity written only when null_count > 0 (reference
        # src/write.zig:841-857)
        if null_count > 0:
            bufs["validity"] = self._emit_bitmap(out, bits, grid)
        stats = self._page_stats(arr, win_off, grid) if top_level else None

        if pa.types.is_boolean(dt):
            vbits = B.bitmap_get_bits(arr.buffers()[1], abs_off, win_len)
            bufs["values"] = self._emit_bitmap(out, vbits, grid)
            return ArrayHeader("bool", win_len, null_count, bufs, stats=stats)

        if pa.types.is_fixed_size_binary(dt):
            w = dt.byte_width
            if ctx is not None and w in DICT_WIDTHS and w in ctx.sorted_vals:
                vals = _fsb_values(arr, win_off, win_len, w)
                idx = ctx.encode(w, vals, bits)
                bufs["indices"] = self._emit_fixed(out, memoryview(idx).cast("B"), 4, grid, np.dtype(np.uint32))
                return ArrayHeader(
                    "dict_indices", win_len, null_count, bufs,
                    extra={"width": w}, stats=stats,
                )
            data = B.slice_fixed(arr.buffers()[1], w, abs_off, win_len)
            bufs["data"] = self._emit_fixed(out, data, w, grid)
            return ArrayHeader(
                "fixed_size_binary", win_len, null_count, bufs,
                extra={"width": w}, stats=stats,
            )

        if pa.types.is_string(dt) or pa.types.is_large_string(dt) \
                or pa.types.is_binary(dt) or pa.types.is_large_binary(dt):
            odt = B.offsets_dtype(dt)
            offs = B.normalized_offsets(arr.buffers()[1], odt, abs_off, win_len)
            raw0 = int(np.frombuffer(arr.buffers()[1], dtype=odt, count=1,
                                     offset=abs_off * odt().itemsize)[0])
            data = memoryview(arr.buffers()[2])[raw0 : raw0 + int(offs[-1])]
            bufs["data"], bufs["lengths"] = self._emit_binary(
                out, arr.slice(win_off, win_len), data, offs, grid
            )
            return ArrayHeader("binary", win_len, null_count, bufs, stats=stats)

        if pa.types.is_list(dt) or pa.types.is_large_list(dt):
            odt = B.offsets_dtype(dt)
            offs = B.normalized_offsets(arr.buffers()[1], odt, abs_off, win_len)
            raw0 = int(np.frombuffer(arr.buffers()[1], dtype=odt, count=1,
                                     offset=abs_off * odt().itemsize)[0])
            lengths = np.diff(offs).astype(np.uint32)
            bufs["lengths"] = self._emit_fixed(out, memoryview(lengths).cast("B"), 4, grid, np.dtype(np.uint32))
            cgrid = B.child_grid(offs, grid)
            child = arr.values
            ch = self._write_array(out, child, raw0 - child.offset, int(offs[-1]), cgrid, ctx)
            return ArrayHeader("list", win_len, null_count, bufs, [ch], stats=stats)

        if pa.types.is_fixed_size_list(dt):
            sz = dt.list_size
            cgrid = [e * sz for e in grid]
            child = arr.values
            ch = self._write_array(out, child, abs_off * sz - child.offset, win_len * sz, cgrid, ctx)
            return ArrayHeader(
                "fixed_size_list", win_len, null_count, bufs, [ch],
                extra={"size": sz}, stats=stats,
            )

        if pa.types.is_struct(dt):
            children = [
                self._write_array(out, arr.field(i), win_off, win_len, grid, ctx)
                for i in range(dt.num_fields)
            ]
            return ArrayHeader("struct", win_len, null_count, bufs, children, stats=stats)

        if pa.types.is_map(dt):
            offs = B.normalized_offsets(arr.buffers()[1], np.int32, abs_off, win_len)
            raw0 = int(np.frombuffer(arr.buffers()[1], dtype=np.int32, count=1,
                                     offset=abs_off * 4)[0])
            lengths = np.diff(offs).astype(np.uint32)
            bufs["lengths"] = self._emit_fixed(out, memoryview(lengths).cast("B"), 4, grid, np.dtype(np.uint32))
            cgrid = B.child_grid(offs, grid)
            nchild = int(offs[-1])
            kch = self._write_array(out, arr.keys, raw0 - arr.keys.offset, nchild, cgrid, ctx)
            vch = self._write_array(out, arr.items, raw0 - arr.items.offset, nchild, cgrid, ctx)
            return ArrayHeader(
                "map", win_len, null_count, bufs, [kch, vch],
                extra={"keys_sorted": bool(dt.keys_sorted)}, stats=stats,
            )

        # fixed-width primitives: ints, floats (incl f16), decimals, dates,
        # times, timestamps, durations, month_day_nano intervals
        # (reference src/write.zig:120-197,211-215 → write_primitive_array)
        try:
            itemsize = dt.byte_width
        except Exception as exc:  # noqa: BLE001
            raise ValidationError(f"unsupported olive type {dt}") from exc
        data = B.slice_fixed(arr.buffers()[1], itemsize, abs_off, win_len)
        bufs["values"] = self._emit_fixed(
            out, data, itemsize, grid, value_dtype(dt),
            bits.astype(bool) if null_count else None, dict_ok=True,
        )
        return ArrayHeader("primitive", win_len, null_count, bufs, stats=stats)


def write_chunk(tables: dict[str, pa.Table], **kwargs: Any) -> bytes:
    """One-shot: serialize a multi-table chunk to framed file bytes
    (± reference write.write, src/write.zig:35-101)."""
    return ChunkWriter(**kwargs).write(tables)
