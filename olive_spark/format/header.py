"""Olive header model + byte-level file framing.

The reference keeps the header as an in-memory tree and leaves serialization
to the embedder (reference src/header.zig:146-150, src/write.zig:96-100).
We must define bytes: a versioned, self-describing JSON header — field-for-
field parity with the reference tree (src/header.zig:35-150) — framed as

    [magic b"OLV1"][u32le header_len][header JSON utf-8][data section]

Model parity map (reference src/header.zig):
    Page          {offset, uncompressed_size, compressed_size}   :35-39
    Buffer        {pages, row_index_ends, compression}           :41-45
    ArrayHeader   13-variant tagged union                        :3-17
    TableHeader   named field headers + num_rows                 :131-134
    ChunkHeader   tables + dict20/dict32 + data_section_size     :136-150

Extensions over the reference (flagged, SURVEY.md §4): per-page min/max
stats on flat columns (``ArrayHeader.stats``) to drive page skipping, and
file-level stats for file pruning. The reference stores none.

Format version 2 adds lightweight per-page encodings. A buffer may carry
``BufferMeta.encodings`` (JSON key ``"e"``): one descriptor per page, in
page order, each one of

    null                  plain: the page holds the buffer's own bytes
    ["for", w, base]      frame of reference: one unsigned w-byte code per
                          element, element = base + code (``base`` a JSON
                          int in the logical type's range)
    ["dict", w, n]        page dictionary: n distinct elements, then one
                          unsigned w-byte code per element, element =
                          dictionary[code]; on a binary column's
                          ``lengths`` page the dictionary is n u32
                          lengths and the ``data`` page holds the n
                          values' bytes

with ``w`` in {1, 2, 4, 8}.  A page is still compressed with its buffer's
codec after encoding, and each page decodes on its own.  Version-1 files
carry no descriptors and read unchanged; a version-1 header that carries
one is rejected, and readers older than version 2 reject version-2 files
as an unsupported version instead of misreading encoded pages.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Optional

from olive_spark.format.errors import ValidationError

MAGIC = b"OLV1"
FORMAT_VERSION = 2
READABLE_VERSIONS = (1, 2)

# code widths (bytes) of "for" and "dict" page encodings
ENCODING_WIDTHS = (1, 2, 4, 8)

# Format invariants carried over from the reference (u32 offsets/sizes,
# reference src/header.zig:35-39, src/write.zig:986-991; defensive read
# guards src/read.zig:727-729,834-836).
MAX_DATA_SECTION = (1 << 32) - 1
MAX_ARRAY_LEN = 1 << 31
MAX_BUFFER_BYTES = 1 << 31

ARRAY_TAGS = (
    "null",
    "primitive",
    "bool",
    "binary",
    "fixed_size_binary",
    "dict_indices",  # fsb{20,32} column globally dict-encoded as u32 indices
    "list",
    "fixed_size_list",
    "struct",
    "map",
)


@dataclass
class Page:
    offset: int
    uncompressed_size: int
    compressed_size: int

    def to_json(self) -> list[int]:
        return [self.offset, self.uncompressed_size, self.compressed_size]

    @staticmethod
    def from_json(j: Any) -> "Page":
        if not (isinstance(j, list) and len(j) == 3 and all(isinstance(x, int) and x >= 0 for x in j)):
            raise ValidationError(f"malformed page: {j!r}")
        return Page(*j)


@dataclass
class BufferMeta:
    """A logical byte buffer split into pages (reference src/header.zig:41-45).

    ``row_index_ends[i]`` is the end row index (exclusive, in this buffer's
    element space) of page i — the page-granular row fence that enables
    row skipping (reference src/write.zig:861-917).
    """

    compression: str
    pages: list[Page]
    row_index_ends: list[int]
    # one descriptor per page (module docstring), or None: all plain
    encodings: Optional[list[Optional[list]]] = None

    def to_json(self) -> dict[str, Any]:
        out = {
            "c": self.compression,
            "p": [p.to_json() for p in self.pages],
            "r": self.row_index_ends,
        }
        if self.encodings is not None:
            out["e"] = self.encodings
        return out

    @staticmethod
    def from_json(j: Any) -> "BufferMeta":
        if not isinstance(j, dict):
            raise ValidationError(f"malformed buffer: {j!r}")
        comp = j.get("c")
        if comp not in ("none", "lz4", "lz4_hc", "zstd"):
            raise ValidationError(f"unknown compression {comp!r}")
        pages = [Page.from_json(p) for p in j.get("p", [])]
        ends = j.get("r", [])
        if not (isinstance(ends, list) and all(isinstance(x, int) and x >= 0 for x in ends)):
            raise ValidationError(f"malformed row_index_ends: {ends!r}")
        if len(ends) != len(pages):
            raise ValidationError("row_index_ends/pages length mismatch")
        if any(b < a for a, b in zip(ends, ends[1:])):
            raise ValidationError("row_index_ends not monotone")
        encs = j.get("e")
        if encs is not None:
            if not isinstance(encs, list) or len(encs) != len(pages):
                raise ValidationError(
                    f"page encodings must list one descriptor per page "
                    f"({len(pages)}): {encs!r}"
                )
            for e in encs:
                _validate_encoding(e)
        return BufferMeta(comp, pages, ends, encs)


def _validate_encoding(e: Any) -> None:
    """Structural check of one page descriptor; the reader checks the
    page's bytes against it (codes in range, base + code in the type)."""
    if e is None:
        return
    if not (isinstance(e, list) and len(e) == 3 and e[0] in ("for", "dict")):
        raise ValidationError(f"unknown page encoding {e!r}")
    w, arg = e[1], e[2]
    if type(w) is not int or w not in ENCODING_WIDTHS:
        raise ValidationError(f"page encoding width must be one of {ENCODING_WIDTHS}: {e!r}")
    if type(arg) is not int:
        raise ValidationError(f"malformed page encoding {e!r}")
    if e[0] == "dict" and not 0 < arg <= MAX_ARRAY_LEN:
        raise ValidationError(f"bad page dictionary size in {e!r}")


def _buffer_metas(h: "ArrayHeader"):
    yield from h.buffers.values()
    for c in h.children:
        yield from _buffer_metas(c)


@dataclass
class ArrayHeader:
    """Per-array physical header (reference src/header.zig:3-129).

    ``buffers`` keys by role: "values", "data", "lengths", "validity",
    "indices". ``extra`` carries tag-specific scalars (byte_width,
    item_width, keys_sorted, dict_width). ``stats`` is our per-page min/max
    extension (None on arrays we don't collect stats for).
    """

    tag: str
    length: int
    null_count: int
    buffers: dict[str, BufferMeta] = field(default_factory=dict)
    children: list["ArrayHeader"] = field(default_factory=list)
    extra: dict[str, Any] = field(default_factory=dict)
    stats: Optional[dict[str, list[Any]]] = None  # {"min": [...], "max": [...]} per page
    bloom: Optional[dict[str, Any]] = None  # {"m", "k", "b64"} file-level equality filter

    def to_json(self) -> dict[str, Any]:
        out: dict[str, Any] = {"t": self.tag, "n": self.length, "z": self.null_count}
        if self.buffers:
            out["b"] = {k: v.to_json() for k, v in self.buffers.items()}
        if self.children:
            out["ch"] = [c.to_json() for c in self.children]
        if self.extra:
            out["x"] = self.extra
        if self.stats is not None:
            out["s"] = self.stats
        if self.bloom is not None:
            out["bl"] = self.bloom
        return out

    @staticmethod
    def from_json(j: Any) -> "ArrayHeader":
        if not isinstance(j, dict):
            raise ValidationError(f"malformed array header: {j!r}")
        tag = j.get("t")
        if tag not in ARRAY_TAGS:
            raise ValidationError(f"unknown array tag {tag!r}")
        n = j.get("n")
        z = j.get("z", 0)
        if not (isinstance(n, int) and 0 <= n <= MAX_ARRAY_LEN):
            raise ValidationError(f"bad array length {n!r}")
        if not (isinstance(z, int) and 0 <= z <= n):
            raise ValidationError(f"bad null_count {z!r}")
        bufs = {k: BufferMeta.from_json(v) for k, v in j.get("b", {}).items()}
        children = [ArrayHeader.from_json(c) for c in j.get("ch", [])]
        extra = j.get("x", {})
        if not isinstance(extra, dict):
            raise ValidationError("malformed extra")
        stats = j.get("s")
        bloom = j.get("bl")
        if bloom is not None and not isinstance(bloom, dict):
            raise ValidationError("malformed bloom")
        # Per-tag structural requirements (reference src/read.zig:22-31:
        # hostile headers must fail with a typed error, never crash the
        # dispatch downstream on a missing key / missing child).
        if tag in ("fixed_size_binary", "dict_indices"):
            w = extra.get("width")
            if not (isinstance(w, int) and not isinstance(w, bool) and 0 < w <= MAX_BUFFER_BYTES):
                raise ValidationError(f"{tag} header missing/invalid width: {w!r}")
        if tag == "fixed_size_list":
            sz = extra.get("size")
            if not (isinstance(sz, int) and not isinstance(sz, bool) and 0 <= sz <= MAX_ARRAY_LEN):
                raise ValidationError(f"fixed_size_list header missing/invalid size: {sz!r}")
        _need_children = {"list": 1, "fixed_size_list": 1, "map": 2}.get(tag)
        if _need_children is not None and len(children) != _need_children:
            raise ValidationError(
                f"{tag} header has {len(children)} children, needs {_need_children}"
            )
        return ArrayHeader(tag, n, z, bufs, children, extra, stats, bloom)


@dataclass
class TableHeader:
    name: str
    num_rows: int
    field_names: list[str]
    field_types: list[Any]  # JSON-encoded logical types (types.type_to_json)
    fields: list[ArrayHeader]
    # column-mapping IDs (Delta ColumnMapping / Iceberg field-IDs):
    # stable per-column integers assigned by the table's schema sidecar
    # (table_schema.py).  Optional — files written before a table's
    # first ID-requiring DDL carry none and resolve by name through the
    # sidecar's legacy map.  When present, scans resolve stored columns
    # by ID, so rename/drop/re-add lifecycles never misattribute data.
    field_ids: "list[int] | None" = None

    def to_json(self) -> dict[str, Any]:
        out = {
            "name": self.name,
            "rows": self.num_rows,
            "fnames": self.field_names,
            "ftypes": self.field_types,
            "fields": [f.to_json() for f in self.fields],
        }
        if self.field_ids is not None:
            out["fids"] = self.field_ids
        return out

    @staticmethod
    def from_json(j: Any) -> "TableHeader":
        if not isinstance(j, dict):
            raise ValidationError(f"malformed table header: {j!r}")
        name = j.get("name")
        rows = j.get("rows")
        fnames = j.get("fnames")
        ftypes = j.get("ftypes")
        fields = j.get("fields")
        if not isinstance(name, str) or not name or "\x00" in name:
            raise ValidationError(f"bad table name {name!r}")
        if not (isinstance(rows, int) and 0 <= rows <= MAX_ARRAY_LEN):
            raise ValidationError(f"bad num_rows {rows!r}")
        if not (isinstance(fnames, list) and isinstance(ftypes, list) and isinstance(fields, list)):
            raise ValidationError("malformed table header lists")
        if len(fnames) != len(fields) or len(ftypes) != len(fields):
            raise ValidationError("field name/type/header count mismatch")
        _validate_names(fnames)
        fids = j.get("fids")
        if fids is not None:
            if (
                not isinstance(fids, list)
                or len(fids) != len(fnames)
                or not all(isinstance(i, int) and i > 0 for i in fids)
                or len(set(fids)) != len(fids)
            ):
                raise ValidationError(
                    f"malformed field-id list for table {name!r}: "
                    "must be distinct positive ints, one per field"
                )
        return TableHeader(
            name, rows, fnames, ftypes,
            [ArrayHeader.from_json(f) for f in fields], fids,
        )


@dataclass
class DictMeta:
    """One file-global dictionary of fixed-width values
    (reference src/header.zig:136-144): a single uncompressed page."""

    width: int
    offset: int
    size: int  # bytes; size/width = number of dict entries

    def to_json(self) -> list[int]:
        return [self.width, self.offset, self.size]

    @staticmethod
    def from_json(j: Any) -> "DictMeta":
        if not (isinstance(j, list) and len(j) == 3 and all(isinstance(x, int) and x >= 0 for x in j)):
            raise ValidationError(f"malformed dict meta: {j!r}")
        d = DictMeta(*j)
        if d.width not in (20, 32):
            raise ValidationError(f"dict width must be 20 or 32, got {d.width}")
        if d.size % d.width != 0:
            raise ValidationError("dict size not a multiple of width")
        return d


@dataclass
class ChunkHeader:
    version: int
    tables: list[TableHeader]
    dict20: Optional[DictMeta]
    dict32: Optional[DictMeta]
    data_section_size: int

    def to_json_bytes(self) -> bytes:
        j = {
            "v": self.version,
            "tables": [t.to_json() for t in self.tables],
            "dict20": self.dict20.to_json() if self.dict20 else None,
            "dict32": self.dict32.to_json() if self.dict32 else None,
            "dss": self.data_section_size,
        }
        return json.dumps(j, separators=(",", ":")).encode("utf-8")

    @staticmethod
    def from_json_bytes(b: bytes) -> "ChunkHeader":
        try:
            j = json.loads(b.decode("utf-8"))
        except Exception as exc:  # noqa: BLE001
            raise ValidationError(f"header is not valid JSON: {exc}") from exc
        if not isinstance(j, dict):
            raise ValidationError("header JSON is not an object")
        v = j.get("v")
        if type(v) is not int or v not in READABLE_VERSIONS:
            raise ValidationError(f"unsupported format version {v!r}")
        dss = j.get("dss")
        if not (isinstance(dss, int) and 0 <= dss <= MAX_DATA_SECTION):
            raise ValidationError(f"bad data_section_size {dss!r}")
        tables = [TableHeader.from_json(t) for t in j.get("tables", [])]
        _validate_names([t.name for t in tables])
        if v == 1 and any(
            m.encodings is not None
            for t in tables for f in t.fields for m in _buffer_metas(f)
        ):
            raise ValidationError("format version 1 carries no page encodings")
        d20 = j.get("dict20")
        d32 = j.get("dict32")
        return ChunkHeader(
            v,
            tables,
            DictMeta.from_json(d20) if d20 is not None else None,
            DictMeta.from_json(d32) if d32 is not None else None,
            dss,
        )


def _validate_names(names: list[str]) -> None:
    """Uniqueness + charset checks (reference src/schema.zig:75-93)."""
    seen = set()
    for n in names:
        if not isinstance(n, str) or not n or "\x00" in n:
            raise ValidationError(f"bad name {n!r}")
        if n in seen:
            raise ValidationError(f"duplicate name {n!r}")
        seen.add(n)


def frame_file(header: ChunkHeader, data_section: bytes) -> bytes:
    hb = header.to_json_bytes()
    return MAGIC + len(hb).to_bytes(4, "little") + hb + data_section


# Process-local parsed-header cache keyed by (path, size, mtime_ns).
# Spark reuses Python workers across tasks and queries, so a warm
# re-scan of the same files skips the header JSON reparse entirely —
# at 100 TB a 4 GiB chunk's header (page grid + stats for every column)
# is the expensive part of opening a file for a narrow read.  Headers
# are immutable once parsed; chunk files are immutable once written
# (rewrites change size/mtime), so (size, mtime_ns) invalidates
# correctly.  Living in this module keeps plan-time callers (Spark
# driver-side schema/partition planning) free of numpy/pyarrow imports.
_HEADER_CACHE: dict[tuple, "tuple[ChunkHeader, int]"] = {}
_HEADER_CACHE_CAP = 1024


def read_header(path: str) -> "tuple[ChunkHeader, int]":
    """Parse just the framed header of one chunk file (no data pages),
    cached per process.  Returns (header, data_section_offset)."""
    import os

    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    hit = _HEADER_CACHE.get(key)
    if hit is None:
        with open(path, "rb") as f:
            pre = f.read(8)
            if len(pre) < 8 or pre[:4] != MAGIC:
                raise ValidationError(f"{path}: not an olive file (bad magic)")
            hlen = int.from_bytes(pre[4:8], "little")
            header = ChunkHeader.from_json_bytes(f.read(hlen))
        if 8 + hlen + header.data_section_size > st.st_size:
            raise ValidationError(f"{path}: data_section_size exceeds file size")
        if len(_HEADER_CACHE) >= _HEADER_CACHE_CAP:
            _HEADER_CACHE.clear()
        _HEADER_CACHE[key] = hit = (header, 8 + hlen)
    return hit


def read_frame(blob: bytes) -> tuple[ChunkHeader, memoryview]:
    """Parse the file framing; returns (header, data_section view).

    Every bound is checked before use — hostile input raises a typed
    OliveError, never crashes (reference src/read.zig:22-31 contract).
    """
    if len(blob) < 8 or blob[:4] != MAGIC:
        raise ValidationError("not an olive file (bad magic)")
    hlen = int.from_bytes(blob[4:8], "little")
    if 8 + hlen > len(blob):
        raise ValidationError("header length exceeds file size")
    header = ChunkHeader.from_json_bytes(bytes(blob[8 : 8 + hlen]))
    data = memoryview(blob)[8 + hlen :]
    if header.data_section_size > len(data):
        raise ValidationError("data_section_size exceeds file payload")
    return header, data[: header.data_section_size]
