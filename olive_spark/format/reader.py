"""Olive chunk reader: framed file bytes → pyarrow Tables.

Parity with the reference read path (reference src/read.zig:41-100):
validates the data-section size and table/field arity up front, loads the
global dictionaries with bounds checks (src/read.zig:60-73,102-125),
type-checks every array header against the schema
(``check_field_type``, src/read.zig:127-182), decompresses page-by-page
with per-page bounds checks (src/read.zig:829-875), validates dict indices
against the dictionary length (src/read.zig:756-788), and re-validates
every constructed array (src/read.zig:295-299 →
``pa.Array.validate(full=True)``). Hostile input raises a typed
OliveError, never crashes (src/read.zig:22-31).

Beyond the reference: column pruning (only requested columns' buffers are
decompressed) and page-granular row skipping driven by the shared row grid
+ per-page min/max stats (SURVEY.md §4 — structurally enabled by the
reference's ``row_index_ends``, src/header.zig:41-45).

Pages stored with a frame-of-reference or page-dictionary encoding
(format version 2) decode on their own after decompression
(``encodings.py``); what a buffer's selected pages expand to is held to
``MAX_BUFFER_BYTES`` before any is decoded.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

import numpy as np
import pyarrow as pa

from olive_spark.format import buffers as B
from olive_spark.format.compression import decompress
from olive_spark.format.encodings import (
    U32,
    decode_dict_binary,
    decode_fixed,
    decode_for,
    value_dtype,
)
from olive_spark.format.errors import (
    BufferTooBig,
    DataSectionTooSmall,
    LengthMismatch,
    UnexpectedArrayType,
    ValidationError,
)
from olive_spark.format.header import (
    MAX_BUFFER_BYTES,
    ArrayHeader,
    BufferMeta,
    ChunkHeader,
    DictMeta,
    TableHeader,
    read_frame,
    read_header,
)
from olive_spark.format.types import type_from_json


def _join(parts: list) -> Any:
    """Pages' bytes as one bytes-like object; one page passes uncopied."""
    return b"".join(parts) if len(parts) != 1 else parts[0]


def _buf(h: ArrayHeader, role: str) -> BufferMeta:
    """Fetch a required buffer; absence (e.g., via a corrupted tag byte)
    is a typed validation failure, never a KeyError."""
    m = h.buffers.get(role)
    if m is None:
        raise ValidationError(f"{h.tag} array header missing {role!r} buffer")
    return m


class ChunkReader:
    def __init__(self, blob: bytes) -> None:
        self.header, self.data = read_frame(blob)
        self._dicts: dict[int, pa.Array] = {}

    @classmethod
    def from_path(cls, path: str) -> "ChunkReader":
        """mmap-backed reader: only the byte ranges actually touched
        (selected columns' selected pages) fault in from disk — a narrow
        projection of a 4 GiB chunk does I/O proportional to the
        projection, not the file.  The parsed header comes from the
        process-local cache (``read_header``), so a reused Spark worker
        re-opening a file it has seen skips the JSON reparse."""
        import mmap

        header, hoff = read_header(path)
        with open(path, "rb") as f:
            mm = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        r = cls.__new__(cls)  # skip __init__'s header reparse
        r.header = header
        # bounds pre-validated in read_header against the stat'd size
        r.data = memoryview(mm)[hoff : hoff + header.data_section_size]
        r._dicts = {}
        r._mmap = mm  # keep alive alongside the views into it
        return r

    # ---- global dictionaries (reference src/read.zig:102-125) -----------

    def _dict_values(self, width: int) -> pa.Array:
        arr = self._dicts.get(width)
        if arr is None:
            meta: Optional[DictMeta] = (
                self.header.dict20 if width == 20 else self.header.dict32
            )
            if meta is None:
                arr = pa.array([], pa.binary(width))
            else:
                if meta.offset + meta.size > len(self.data):
                    raise DataSectionTooSmall("dict page out of bounds")
                raw = bytes(self.data[meta.offset : meta.offset + meta.size])
                arr = pa.FixedSizeBinaryArray.from_buffers(
                    pa.binary(width), meta.size // width, [None, pa.py_buffer(raw)]
                )
            self._dicts[width] = arr
        return arr

    # ---- page/buffer plumbing (reference src/read.zig:829-875) ----------

    def _read_pages(self, meta: BufferMeta, pages: Optional[Sequence[int]]) -> list[bytes]:
        idxs = range(len(meta.pages)) if pages is None else pages
        out = []
        total = 0
        for i in idxs:
            p = meta.pages[i]
            if p.offset + p.compressed_size > len(self.data):
                raise DataSectionTooSmall(
                    f"page [{p.offset}, +{p.compressed_size}) out of bounds"
                )
            total += p.uncompressed_size
            if total > MAX_BUFFER_BYTES:
                raise BufferTooBig(f"buffer exceeds {MAX_BUFFER_BYTES} bytes")
            out.append(
                decompress(
                    meta.compression,
                    bytes(self.data[p.offset : p.offset + p.compressed_size]),
                    p.uncompressed_size,
                )
            )
        return out

    def _read_bytes(self, meta: BufferMeta, pages: Optional[Sequence[int]]) -> bytes:
        """A plain buffer's selected pages, joined."""
        if meta.encodings is not None:
            raise ValidationError("page encodings on a buffer that takes none")
        return _join(self._read_pages(meta, pages))

    def _check_decoded(
        self, meta: BufferMeta, pages: Optional[Sequence[int]], itemsize: int
    ) -> tuple[Sequence[int], list[int]]:
        """Hold an encoded buffer's selected pages, decoded to ``itemsize``
        bytes a row, to ``MAX_BUFFER_BYTES`` before any is read: a narrow
        code page expands up to 8×.  Returns the page indices and the
        grid's page starts."""
        idxs = range(len(meta.pages)) if pages is None else pages
        starts = B.grid_starts(meta.row_index_ends)
        rows = sum(meta.row_index_ends[i] - starts[i] for i in idxs)
        if rows * itemsize > MAX_BUFFER_BYTES:
            raise BufferTooBig(f"encoded buffer decodes past {MAX_BUFFER_BYTES} bytes")
        return idxs, starts

    def _read_fixed(
        self,
        meta: BufferMeta,
        pages: Optional[Sequence[int]],
        dt: Optional[np.dtype],
        dict_ok: bool = False,
    ) -> bytes:
        """A fixed-width buffer's selected pages, each decoded by its own
        encoding into elements of ``dt`` (None: the type takes none) and
        joined; ``dict_ok`` admits page dictionaries."""
        if meta.encodings is None:
            return _join(self._read_pages(meta, pages))
        if dt is None:
            raise ValidationError("page encodings on a buffer that takes none")
        idxs, starts = self._check_decoded(meta, pages, dt.itemsize)
        out = []
        for raw, i in zip(self._read_pages(meta, pages), idxs):
            enc = meta.encodings[i]
            if enc is None:
                out.append(raw)
            elif enc[0] == "dict" and not dict_ok:
                raise ValidationError(f"{enc[0]!r} page on a buffer that takes none")
            else:
                rows = meta.row_index_ends[i] - starts[i]
                out.append(decode_fixed(raw, enc, rows, dt))
        return _join(out)

    def _read_binary(
        self, h: ArrayHeader, pages: Optional[Sequence[int]]
    ) -> tuple[np.ndarray, bytes]:
        """A binary column's selected pages → (u32 lengths, value bytes);
        a buffer without descriptors reads as all-plain pages."""
        lmeta, dmeta = _buf(h, "lengths"), _buf(h, "data")
        if dmeta.encodings is not None:
            raise ValidationError("page encodings on a binary data buffer")
        idxs, starts = self._check_decoded(lmeta, pages, 4)
        encs = lmeta.encodings or [None] * len(lmeta.pages)
        lens, datas = [], []
        for lraw, draw, i in zip(
            self._read_pages(lmeta, pages), self._read_pages(dmeta, pages), idxs
        ):
            enc = encs[i]
            rows = lmeta.row_index_ends[i] - starts[i]
            if enc is None:
                if len(lraw) != rows * 4:
                    raise LengthMismatch("lengths page size mismatch")
                lens.append(np.frombuffer(lraw, U32))
            elif enc[0] == "for":
                lens.append(decode_for(lraw, enc, rows, U32))
            else:
                lengths, draw = decode_dict_binary(lraw, draw, enc, rows)
                lens.append(lengths)
            datas.append(draw)
        if len(lens) != 1:  # one page passes uncopied
            lens = [np.concatenate(lens) if lens else np.zeros(0, U32)]
        return lens[0], _join(datas)

    def _read_bitmap(
        self, meta: BufferMeta, pages: Optional[Sequence[int]], n: int
    ) -> np.ndarray:
        """Reassemble selected bitmap pages into one 0/1 bit array."""
        if meta.encodings is not None:
            raise ValidationError("page encodings on a bitmap buffer")
        chunks = self._read_pages(meta, pages)
        idxs = range(len(meta.pages)) if pages is None else pages
        starts = B.grid_starts(meta.row_index_ends)
        bits = []
        for raw, i in zip(chunks, idxs):
            rows = meta.row_index_ends[i] - starts[i]
            if len(raw) * 8 < rows:
                raise LengthMismatch("bitmap page shorter than its row count")
            bits.append(np.unpackbits(np.frombuffer(raw, np.uint8), bitorder="little")[:rows])
        out = np.concatenate(bits) if bits else np.zeros(0, np.uint8)
        if len(out) != n:
            raise LengthMismatch(f"bitmap has {len(out)} bits, expected {n}")
        return out

    @staticmethod
    def _rows_selected(ends: list[int], pages: Optional[Sequence[int]]) -> int:
        if pages is None:
            return ends[-1] if ends else 0
        starts = B.grid_starts(ends)
        return sum(ends[i] - starts[i] for i in pages)

    # ---- array assembly (reference src/read.zig:184-300 dispatch) -------

    def _validity(
        self, h: ArrayHeader, pages: Optional[Sequence[int]], n: int
    ) -> tuple[Optional[pa.Buffer], int]:
        meta = h.buffers.get("validity")
        if meta is None:
            return None, 0
        bits = self._read_bitmap(meta, pages, n)
        null_count = int(n - bits.sum())  # recomputed (src/read.zig:790-812)
        return pa.py_buffer(B.pack_bits(bits)), null_count

    def _read_array(
        self, h: ArrayHeader, dt: pa.DataType, pages: Optional[Sequence[int]]
    ) -> pa.Array:
        # Hostile headers that slip past from_json's per-tag validation must
        # still surface as typed OliveErrors, never a bare KeyError /
        # IndexError / TypeError crash (reference src/read.zig:22-31,
        # src/fuzz.zig:12-52).
        try:
            return self._read_array_impl(h, dt, pages)
        except (KeyError, IndexError, TypeError, AttributeError) as exc:
            raise ValidationError(
                f"malformed {h.tag!r} array header: {type(exc).__name__}: {exc}"
            ) from exc

    def _read_array_impl(
        self, h: ArrayHeader, dt: pa.DataType, pages: Optional[Sequence[int]]
    ) -> pa.Array:
        tag = h.tag
        if tag == "null":
            if not pa.types.is_null(dt):
                raise UnexpectedArrayType(f"null header for type {dt}")
            return pa.nulls(h.length, dt)

        # n = rows surviving page selection, from any buffer's fences
        some = next(iter(h.buffers.values()), None)
        n = self._rows_selected(some.row_index_ends, pages) if some is not None else (
            h.length if pages is None else None
        )
        if n is None:
            # bufferless arrays (struct / fsl with no validity): fall back to
            # children's fences via recursion; compute from declared length
            n = h.length
        vbuf, null_count = self._validity(h, pages, n)

        if tag == "primitive":
            try:
                itemsize = dt.byte_width
            except ValueError:
                raise UnexpectedArrayType(f"primitive header for {dt}") from None
            raw = self._read_fixed(_buf(h, "values"), pages, value_dtype(dt), dict_ok=True)
            if len(raw) != n * itemsize:
                raise LengthMismatch(
                    f"primitive buffer {len(raw)}B != {n}×{itemsize}B"
                )
            arr = pa.Array.from_buffers(dt, n, [vbuf, pa.py_buffer(raw)], null_count)
        elif tag == "bool":
            if not pa.types.is_boolean(dt):
                raise UnexpectedArrayType(f"bool header for {dt}")
            bits = self._read_bitmap(_buf(h, "values"), pages, n)
            arr = pa.Array.from_buffers(
                dt, n, [vbuf, pa.py_buffer(B.pack_bits(bits))], null_count
            )
        elif tag == "binary":
            odt = (
                np.int64
                if (pa.types.is_large_string(dt) or pa.types.is_large_binary(dt))
                else np.int32
            )
            lengths, data = self._read_binary(h, pages)
            if len(lengths) != n:
                raise LengthMismatch("lengths buffer size mismatch")
            offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lengths, out=offs[1:])
            if len(data) != int(offs[-1]):
                raise LengthMismatch("binary data size != offsets extent")
            if odt is np.int32 and offs[-1] >= (1 << 31):
                raise BufferTooBig("binary data exceeds int32 offsets")
            arr = pa.Array.from_buffers(
                dt,
                n,
                [vbuf, pa.py_buffer(offs.astype(odt).tobytes()), pa.py_buffer(data)],
                null_count,
            )
        elif tag == "fixed_size_binary":
            w = int(h.extra["width"])
            if not (pa.types.is_fixed_size_binary(dt) and dt.byte_width == w):
                raise UnexpectedArrayType(f"fsb({w}) header for {dt}")
            raw = self._read_bytes(_buf(h, "data"), pages)
            if len(raw) != n * w:
                raise LengthMismatch("fsb buffer size mismatch")
            arr = pa.Array.from_buffers(dt, n, [vbuf, pa.py_buffer(raw)], null_count)
        elif tag == "dict_indices":
            w = int(h.extra["width"])
            if not (pa.types.is_fixed_size_binary(dt) and dt.byte_width == w):
                raise UnexpectedArrayType(f"dict_indices({w}) header for {dt}")
            raw = self._read_fixed(_buf(h, "indices"), pages, U32)
            if len(raw) != n * 4:
                raise LengthMismatch("dict index buffer size mismatch")
            idx = np.frombuffer(raw, np.uint32)
            dvals = self._dict_values(w)
            if n > 0 and len(dvals) == 0:
                if null_count != n:
                    raise ValidationError(
                        "non-null dict indices with empty dictionary"
                    )
                arr = pa.nulls(n, dt)
            else:
                if n > 0 and int(idx.max()) >= len(dvals):
                    raise ValidationError("dict index out of range")  # read.zig:756-788
                taken = dvals.take(pa.array(idx.astype(np.int64)))
                arr = pa.Array.from_buffers(
                    dt, n, [vbuf, taken.buffers()[1]], null_count
                )
        elif tag == "list":
            if not (pa.types.is_list(dt) or pa.types.is_large_list(dt)):
                raise UnexpectedArrayType(f"list header for {dt}")
            lengths_raw = self._read_fixed(_buf(h, "lengths"), pages, U32)
            if len(lengths_raw) != n * 4:
                raise LengthMismatch("list lengths buffer size mismatch")
            lengths = np.frombuffer(lengths_raw, np.uint32)
            offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lengths, out=offs[1:])
            child = self._read_array(h.children[0], dt.value_type, pages)
            if len(child) != int(offs[-1]):
                raise LengthMismatch("list child length != offsets extent")
            odt = np.int64 if pa.types.is_large_list(dt) else np.int32
            if odt is np.int32 and offs[-1] >= (1 << 31):
                raise BufferTooBig("list extent exceeds int32 offsets")
            arr = pa.Array.from_buffers(
                dt,
                n,
                [vbuf, pa.py_buffer(offs.astype(odt).tobytes())],
                null_count,
                children=[child],
            )
        elif tag == "fixed_size_list":
            if not pa.types.is_fixed_size_list(dt):
                raise UnexpectedArrayType(f"fixed_size_list header for {dt}")
            sz = int(h.extra["size"])
            if sz != dt.list_size:
                raise UnexpectedArrayType("fixed_size_list size mismatch")
            child = self._read_array(h.children[0], dt.value_type, pages)
            if vbuf is None and some is None:
                n = len(child) // sz if sz else h.length
            if len(child) != n * sz:
                raise LengthMismatch("fixed_size_list child length mismatch")
            arr = pa.Array.from_buffers(dt, n, [vbuf], null_count, children=[child])
        elif tag == "struct":
            if not pa.types.is_struct(dt):
                raise UnexpectedArrayType(f"struct header for {dt}")
            if len(h.children) != dt.num_fields:
                raise LengthMismatch("struct field count mismatch")
            children = [
                self._read_array(ch, dt.field(i).type, pages)
                for i, ch in enumerate(h.children)
            ]
            if vbuf is None and some is None:
                n = len(children[0]) if children else h.length
            for c in children:
                if len(c) != n:
                    raise LengthMismatch("struct child length mismatch")
            arr = pa.Array.from_buffers(dt, n, [vbuf], null_count, children=children)
        elif tag == "map":
            if not pa.types.is_map(dt):
                raise UnexpectedArrayType(f"map header for {dt}")
            lengths_raw = self._read_fixed(_buf(h, "lengths"), pages, U32)
            if len(lengths_raw) != n * 4:
                raise LengthMismatch("map lengths buffer size mismatch")
            lengths = np.frombuffer(lengths_raw, np.uint32)
            offs = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(lengths, out=offs[1:])
            keys = self._read_array(h.children[0], dt.key_type, pages)
            items = self._read_array(h.children[1], dt.item_type, pages)
            if len(keys) != int(offs[-1]) or len(items) != int(offs[-1]):
                raise LengthMismatch("map children length != offsets extent")
            entries = pa.StructArray.from_arrays([keys, items], ["key", "value"])
            arr = pa.Array.from_buffers(
                dt,
                n,
                [vbuf, pa.py_buffer(offs.tobytes())],
                null_count,
                children=[entries],
            )
        else:
            raise UnexpectedArrayType(f"unknown tag {tag!r}")

        try:
            arr.validate(full=True)  # reference src/read.zig:295-299
        except Exception as exc:  # noqa: BLE001
            raise ValidationError(f"array failed validation: {exc}") from exc
        return arr

    # ---- table / chunk assembly ------------------------------------------

    def table_names(self) -> list[str]:
        return [t.name for t in self.header.tables]

    def _table_header(self, name: Optional[str]) -> TableHeader:
        if name is None:
            if len(self.header.tables) != 1:
                raise ValidationError(
                    "chunk holds multiple tables; specify which to read"
                )
            return self.header.tables[0]
        for t in self.header.tables:
            if t.name == name:
                return t
        raise ValidationError(f"no table {name!r} in chunk")

    def arrow_schema(self, table: Optional[str] = None) -> pa.Schema:
        th = self._table_header(table)
        return pa.schema(
            [
                pa.field(n, type_from_json(tj))
                for n, tj in zip(th.field_names, th.field_types)
            ]
        )

    def read_table(
        self,
        table: Optional[str] = None,
        columns: Optional[Sequence[str]] = None,
        pages: Optional[Sequence[int]] = None,
    ) -> pa.Table:
        """Read one table; ``columns`` prunes (only named columns'
        buffers are touched), ``pages`` row-skips on the shared grid."""
        th = self._table_header(table)
        names = list(th.field_names)
        sel = names if columns is None else list(columns)
        arrays = []
        fields = []
        for cname in sel:
            try:
                i = names.index(cname)
            except ValueError:
                raise ValidationError(f"no column {cname!r} in table {th.name!r}")
            dt = type_from_json(th.field_types[i])
            arr = self._read_array(th.fields[i], dt, pages)
            if pages is None and len(arr) != th.fields[i].length:
                # decoded length is derived from the actual buffers/row
                # grid; a disagreeing declared length means a corrupt or
                # forged header (reference validates the same way,
                # src/read.zig:295-299)
                raise ValidationError(
                    f"column {cname!r}: decoded {len(arr)} rows but "
                    f"header declares {th.fields[i].length}"
                )
            arrays.append(arr)
            fields.append(pa.field(cname, dt))
        if not arrays:
            n = self._rows_selected(
                B.make_row_grid(th.num_rows, th.num_rows or 1), pages
            ) if pages is not None else th.num_rows
            return pa.table({}).add_column(0, "_dummy", pa.array([None] * 0))
        if len({len(a) for a in arrays}) > 1:
            raise LengthMismatch(f"columns of table {th.name!r} decode to different row counts")
        return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def read_chunk(
    blob: bytes,
    table: Optional[str] = None,
    columns: Optional[Sequence[str]] = None,
    pages: Optional[Sequence[int]] = None,
) -> pa.Table:
    return ChunkReader(blob).read_table(table, columns, pages)


def read_all_tables(blob: bytes) -> dict[str, pa.Table]:
    r = ChunkReader(blob)
    return {name: r.read_table(name) for name in r.table_names()}


# ---- page selection from pushed-down filters (extension, SURVEY.md §4) ---


# literal→stats-domain conversion and the min/max disproof routine are
# shared with the directory-manifest file pruning path — one soundness
# surface (see manifest.stats_disprove; literals are never truncated)
from olive_spark.format.manifest import _stats_domain, stats_disprove  # noqa: E402


def select_pages(
    th: TableHeader, predicates: Sequence[tuple[str, str, Any]]
) -> Optional[list[int]]:
    """Page-skip on per-page min/max stats.

    predicates: (column, op, value) with op ∈ {"=", "<", "<=", ">", ">=", "in"}.
    Returns selected page indices, or None when nothing can be pruned.
    Conservative: a page is kept unless stats *prove* it can't match.
    """
    npages: Optional[int] = None
    for f in th.fields:
        for b in f.buffers.values():
            npages = len(b.pages)
            break
        if npages is not None:
            break
    if npages is None or npages == 0:
        # npages == 1 is NOT an early-out: disproving the only page is
        # what lets the scan planner prune the whole FILE (sorted /
        # z-ordered layouts commonly have one page per chunk)
        return None
    keep = np.ones(npages, dtype=bool)
    by_name = dict(zip(th.field_names, th.fields))
    pruned_any = False
    for col, op, value in predicates:
        f = by_name.get(col)
        if f is None or f.stats is None:
            continue
        mins, maxs = f.stats["min"], f.stats["max"]
        if len(mins) != npages:
            continue
        vals = [ _stats_domain(x) for x in (value if op == "in" else [value]) ]
        if any(v is None for v in vals):
            continue
        for i in range(npages):
            if stats_disprove(mins[i], maxs[i], op, vals):
                keep[i] = False
                pruned_any = True
    if not pruned_any or keep.all():
        return None
    return [int(i) for i in np.nonzero(keep)[0]]


def file_prunable_by_bloom(
    th: TableHeader, predicates: Sequence[tuple[str, str, Any]]
) -> bool:
    """True when a per-file Bloom filter PROVES an equality predicate
    can't match any row of this chunk (min/max handles ranges; bloom
    handles point lookups on high-cardinality columns).  Conservative:
    absent/malformed filters and unhashable literals never prune."""
    from olive_spark.format import bloom as _bloom

    by_name = dict(zip(th.field_names, th.fields))
    for col, op, value in predicates:
        f = by_name.get(col)
        if f is None or f.bloom is None:
            continue
        if op == "=" and not _bloom.might_contain(f.bloom, value):
            return True
        if (
            op == "in"
            and isinstance(value, (list, tuple))
            and value
            and all(not _bloom.might_contain(f.bloom, v) for v in value)
        ):
            return True
    return False
