"""Format-core tests: roundtrip equality + hostile-input defense.

Mirrors the reference's test strategy (SURVEY.md §5): the core oracle is
write → read → structural equality (reference src/fuzz.zig:63-151), plus
"never crash on hostile bytes" (src/fuzz.zig:12-61) re-expressed as typed
OliveError raises on corrupted input.
"""

from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from olive_spark.format import (
    ChunkReader,
    OliveError,
    ValidationError,
    read_all_tables,
    read_chunk,
    select_pages,
    write_chunk,
)

SF_DIR = "/root/testdata/sf0.001"


def roundtrip(tables: dict[str, pa.Table], **kw) -> dict[str, pa.Table]:
    blob = write_chunk(tables, **kw)
    return read_all_tables(blob)


def assert_tables_equal(got: pa.Table, want: pa.Table) -> None:
    assert got.schema.equals(want.schema), f"{got.schema} != {want.schema}"
    assert got.equals(want)


# ---------------------------------------------------------------- flat types


def test_roundtrip_lineitem_parquet():
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    got = roundtrip({"lineitem": t}, page_rows=1000)["lineitem"]
    assert_tables_equal(got, t)


@pytest.mark.parametrize("codec_bias", ["balanced", "read_optimized"])
def test_compression_biases(codec_bias):
    t = pq.read_table(f"{SF_DIR}/orders.parquet")
    got = roundtrip({"orders": t}, compression_bias=codec_bias)["orders"]
    assert_tables_equal(got, t)


def make_primitive_table():
    return pa.table(
        {
            "i8": pa.array([1, None, -3], pa.int8()),
            "i16": pa.array([1, None, -3], pa.int16()),
            "i32": pa.array([1, None, -3], pa.int32()),
            "i64": pa.array([1, None, -3], pa.int64()),
            "u8": pa.array([1, None, 255], pa.uint8()),
            "u16": pa.array([1, None, 65535], pa.uint16()),
            "u32": pa.array([1, None, 2**32 - 1], pa.uint32()),
            "u64": pa.array([1, None, 2**64 - 1], pa.uint64()),
            "f16": pa.array(
                np.array([1.5, 2.5, -3.0], np.float16), pa.float16()
            ),
            "f32": pa.array([1.5, None, -3.25], pa.float32()),
            "f64": pa.array([1.5, None, float("inf")], pa.float64()),
            "dec": pa.array(
                [None, Decimal("12345.6789"), Decimal("-1.0001")],
                pa.decimal128(20, 4),
            ),
            "d32": pa.array([0, None, 20000], pa.date32()),
            "d64": pa.array([0, None, 86400000], pa.date64()),
            "t32": pa.array([0, 1, None], pa.time32("ms")),
            "t64": pa.array([0, 1, None], pa.time64("us")),
            "ts": pa.array([0, None, 2**40], pa.timestamp("us")),
            "tstz": pa.array([0, None, 2**40], pa.timestamp("us", tz="UTC")),
            "dur": pa.array([0, None, -5], pa.duration("us")),
            "b": pa.array([True, None, False]),
            "s": pa.array(["a", None, "ccc"]),
            "ls": pa.array(["a", None, "ccc"], pa.large_utf8()),
            "bin": pa.array([b"a", None, b"ccc"], pa.binary()),
            "lbin": pa.array([b"a", None, b"ccc"], pa.large_binary()),
            "fsb7": pa.array([b"1234567", None, b"abcdefg"], pa.binary(7)),
        }
    )


def test_all_primitive_types():
    t = make_primitive_table()
    got = roundtrip({"t": t})["t"]
    assert_tables_equal(got, t)


def test_null_type_column():
    t = pa.table({"n": pa.nulls(5, pa.null()), "x": pa.array(range(5))})
    got = roundtrip({"t": t})["t"]
    assert_tables_equal(got, t)


def test_empty_table():
    t = pa.table({"a": pa.array([], pa.int64()), "s": pa.array([], pa.utf8())})
    got = roundtrip({"t": t})["t"]
    assert_tables_equal(got, t)


# ------------------------------------------------------------- nested types


def make_nested_table():
    return pa.table(
        {
            "l": pa.array([[1, 2], None, [3], [4, 5, 6], []], pa.list_(pa.int64())),
            "ll": pa.array([[[1], [2, 2]], None, [[3]], [], [None]],
                           pa.list_(pa.list_(pa.int64()))),
            "lgl": pa.array([[1, 2], None, [3], [], [9]], pa.large_list(pa.int64())),
            "st": pa.array(
                [{"a": 1, "b": "x"}, {"a": None, "b": "y"}, None,
                 {"a": 4, "b": None}, {"a": 5, "b": "z"}],
                pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
            "m": pa.array(
                [[("k", 1)], [("a", 2), ("b", 3)], None, [], [("z", None)]],
                pa.map_(pa.string(), pa.int64()),
            ),
            "fsl": pa.array(
                [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], None, [7.0, 8.0]],
                pa.list_(pa.float32(), 2),
            ),
            "los": pa.array(
                [[{"q": 1}], None, [{"q": None}, {"q": 3}], [], [{"q": 4}]],
                pa.list_(pa.struct([("q", pa.int64())])),
            ),
        }
    )


def test_nested_roundtrip():
    t = make_nested_table()
    got = roundtrip({"t": t}, page_rows=8)["t"]
    assert_tables_equal(got, t)


def test_sliced_input_roundtrip():
    t = make_nested_table()
    sliced = pa.table(
        {c: t.column(c).chunk(0).slice(1, 3) for c in t.column_names}
    )
    got = roundtrip({"t": sliced})["t"]
    assert_tables_equal(got, sliced)


def test_physical_encodings_canonicalized():
    # dictionary + REE are write-path-erased encodings
    # (reference src/write.zig:352-421)
    d = pa.array(["a", "b", "a", None, "b"]).dictionary_encode()
    t = pa.table({"d": d})
    got = roundtrip({"t": t})["t"]
    assert got.column("d").to_pylist() == ["a", "b", "a", None, "b"]
    assert pa.types.is_string(got.schema.field("d").type)


def test_union_lowered_to_tagged_struct():
    # dense/sparse unions have no Spark equivalent → stored as
    # {_type_id, <fields>} tagged structs (SURVEY.md §1.2; reference
    # writes unions natively, src/write.zig:463-549)
    ints = pa.array([1, 7], pa.int64())
    strs = pa.array(["x"], pa.string())
    types = pa.array([0, 1, 0], pa.int8())
    offsets = pa.array([0, 0, 1], pa.int32())
    dense = pa.UnionArray.from_dense(
        types, offsets, [ints, strs], ["num", "word"]
    )
    got = roundtrip({"t": pa.table({"u": dense})})["t"]
    assert got.column("u").to_pylist() == [
        {"_type_id": 0, "num": 1, "word": None},
        {"_type_id": 1, "num": None, "word": "x"},
        {"_type_id": 0, "num": 7, "word": None},
    ]

    s_ints = pa.array([10, 20, 30], pa.int64())
    s_flts = pa.array([0.5, 1.5, 2.5], pa.float64())
    s_types = pa.array([0, 1, 0], pa.int8())
    sparse = pa.UnionArray.from_sparse(s_types, [s_ints, s_flts], ["i", "f"])
    got2 = roundtrip({"t": pa.table({"u": sparse})})["t"]
    assert got2.column("u").to_pylist() == [
        {"_type_id": 0, "i": 10, "f": None},
        {"_type_id": 1, "i": None, "f": 1.5},
        {"_type_id": 0, "i": 30, "f": None},
    ]


# -------------------------------------------------- multi-table + global dict


def test_multi_table_chunk():
    a = pq.read_table(f"{SF_DIR}/region.parquet")
    b = pq.read_table(f"{SF_DIR}/nation.parquet")
    got = roundtrip({"region": a, "nation": b})
    assert_tables_equal(got["region"], a)
    assert_tables_equal(got["nation"], b)


def test_global_dict_fsb20_fsb32():
    rng = np.random.default_rng(7)
    addrs = [rng.bytes(20) for _ in range(10)]
    hashes = [rng.bytes(32) for _ in range(10)]
    t1 = pa.table(
        {
            "addr": pa.array([addrs[i % 10] for i in range(100)] + [None], pa.binary(20)),
            "h": pa.array([hashes[i % 7] for i in range(100)] + [None], pa.binary(32)),
        }
    )
    t2 = pa.table({"addr2": pa.array([addrs[i % 5] for i in range(50)], pa.binary(20))})
    blob = write_chunk({"t1": t1, "t2": t2})
    r = ChunkReader(blob)
    # dictionaries are file-global and shared across tables
    assert r.header.dict20 is not None and r.header.dict32 is not None
    assert r.header.dict20.size // 20 == 10  # distinct addrs across both tables
    got = read_all_tables(blob)
    assert_tables_equal(got["t1"], t1)
    assert_tables_equal(got["t2"], t2)
    # columns were stored as u32 indices
    assert r.header.tables[0].fields[0].tag == "dict_indices"


def test_dict_nested_fsb():
    t = pa.table(
        {"l": pa.array([[b"x" * 20, b"y" * 20], None, [b"x" * 20]], pa.list_(pa.binary(20)))}
    )
    got = roundtrip({"t": t})["t"]
    assert_tables_equal(got, t)


def test_dict_disabled():
    t = pa.table({"addr": pa.array([b"q" * 20] * 5, pa.binary(20))})
    blob = write_chunk({"t": t}, dict_encode=False)
    r = ChunkReader(blob)
    assert r.header.tables[0].fields[0].tag == "fixed_size_binary"
    assert_tables_equal(r.read_table(), t)


# -------------------------------------------------------- pruning & skipping


def test_column_pruning_reads_subset():
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    blob = write_chunk({"lineitem": t})
    got = read_chunk(blob, columns=["l_orderkey", "l_extendedprice"])
    assert got.column_names == ["l_orderkey", "l_extendedprice"]
    assert got.num_rows == t.num_rows


def test_page_subset_read():
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    blob = write_chunk({"lineitem": t}, page_rows=1000)
    r = ChunkReader(blob)
    full = r.read_table()
    sub = r.read_table(pages=[0, 3])
    grid = r.header.tables[0].fields[0].buffers["values"].row_index_ends
    want = pa.concat_tables([full.slice(0, grid[0]), full.slice(grid[2], grid[3] - grid[2])])
    assert sub.equals(want)


def test_select_pages_with_stats():
    t = pa.table({"k": pa.array(list(range(10000)), pa.int64())})
    blob = write_chunk({"t": t}, page_rows=1000)
    r = ChunkReader(blob)
    th = r.header.tables[0]
    sel = select_pages(th, [("k", ">", 8000)])
    assert sel is not None and len(sel) < 11
    sub = r.read_table(pages=sel)
    # conservative: all matching rows survive
    assert sum(1 for v in sub.column("k").to_pylist() if v > 8000) == 1999


def test_select_pages_equality_and_in():
    t = pa.table({"k": pa.array(list(range(10000)), pa.int64())})
    blob = write_chunk({"t": t}, page_rows=1000)
    th = ChunkReader(blob).header.tables[0]
    assert len(select_pages(th, [("k", "=", 5)])) == 1
    assert len(select_pages(th, [("k", "in", [5, 9999])])) == 2


# ------------------------------------------------------------ hostile input


def corrupt(blob: bytes, pos: int, val: int) -> bytes:
    b = bytearray(blob)
    b[pos] = val
    return bytes(b)


def test_bad_magic_raises():
    t = pa.table({"a": pa.array([1, 2, 3])})
    blob = write_chunk({"t": t})
    with pytest.raises(OliveError):
        read_chunk(corrupt(blob, 0, ord("X")))


def test_truncated_file_raises():
    t = pa.table({"a": pa.array(range(1000))})
    blob = write_chunk({"t": t})
    for cut in (4, 8, 50, len(blob) // 2, len(blob) - 3):
        with pytest.raises(OliveError):
            read_chunk(blob[:cut])


def test_bitflip_never_crashes():
    """Reads of corrupted bytes must raise OliveError or return data —
    never segfault/assert (reference fuzz_read contract, src/fuzz.zig:12-61)."""
    t = pa.table(
        {
            "a": pa.array(range(500)),
            "s": pa.array([f"row{i}" for i in range(500)]),
            "l": pa.array([[i, i + 1] for i in range(500)], pa.list_(pa.int64())),
        }
    )
    blob = write_chunk({"t": t})
    rng = np.random.default_rng(42)
    for _ in range(200):
        pos = int(rng.integers(0, len(blob)))
        val = int(rng.integers(0, 256))
        try:
            read_chunk(corrupt(blob, pos, val))
        except OliveError:
            pass  # typed failure is the contract


def test_header_json_garbage_raises():
    with pytest.raises(OliveError):
        read_chunk(b"OLV1" + (10).to_bytes(4, "little") + b"not json!!" + b"\x00" * 8)


def test_duplicate_table_name_rejected():
    t = pa.table({"a": pa.array([1])})
    with pytest.raises(ValidationError):
        # same dict key can't duplicate, so test the name validator directly
        from olive_spark.format.header import _validate_names

        _validate_names(["x", "x"])


def test_data_section_overflow_guard():
    from olive_spark.format.header import ChunkHeader

    with pytest.raises(ValidationError):
        ChunkHeader.from_json_bytes(b'{"v":1,"tables":[],"dss":99999999999999}')


# ---------------------------------------------------------------- bloom

def test_bloom_built_only_for_requested_supported_columns():
    from olive_spark.format.header import ChunkHeader

    t = pa.table({
        "id": pa.array(range(500), pa.int64()),
        "name": pa.array([f"u{i}" for i in range(500)], pa.string()),
        "score": pa.array([float(i) for i in range(500)], pa.float64()),
    })
    blob = write_chunk({"t": t}, bloom_columns=["id", "score"])
    hlen = int.from_bytes(blob[4:8], "little")
    header = ChunkHeader.from_json_bytes(blob[8 : 8 + hlen])
    th = header.tables[0]
    by = dict(zip(th.field_names, th.fields))
    assert by["id"].bloom is not None
    assert by["name"].bloom is None  # not requested
    assert by["score"].bloom is None  # float unsupported → no filter
    # roundtrip unaffected by the extra header key
    assert read_all_tables(blob)["t"].equals(t)


def test_bloom_no_false_negatives_and_prunes_absent():
    from olive_spark.format.header import ChunkHeader
    from olive_spark.format.reader import file_prunable_by_bloom

    ids = [i * 7919 for i in range(2000)]  # high-card, gappy
    t = pa.table({"id": pa.array(ids, pa.int64()),
                  "tag": pa.array([f"t{i}" for i in ids], pa.string())})
    blob = write_chunk({"t": t}, bloom_columns=["id", "tag"])
    hlen = int.from_bytes(blob[4:8], "little")
    th = ChunkHeader.from_json_bytes(blob[8 : 8 + hlen]).tables[0]
    # present values must NEVER prune (no false negatives, hard guarantee)
    for v in ids[::97]:
        assert not file_prunable_by_bloom(th, [("id", "=", v)])
        assert not file_prunable_by_bloom(th, [("tag", "=", f"t{v}")])
    # absent values prune almost always (fp ~0.8%); deterministic data →
    # assert the aggregate rate, not any single probe
    absent = [i * 7919 + 3 for i in range(2000)]
    pruned = sum(file_prunable_by_bloom(th, [("id", "=", v)]) for v in absent)
    assert pruned > 1900, f"bloom barely prunes: {pruned}/2000"
    # IN prunes only when EVERY literal is absent
    assert file_prunable_by_bloom(th, [("id", "in", [3, 10, 17])])
    assert not file_prunable_by_bloom(th, [("id", "in", [3, ids[5]])])


def test_bloom_malformed_never_prunes():
    from olive_spark.format.bloom import might_contain

    assert might_contain({}, 1)
    assert might_contain({"m": 64, "k": 7, "b64": "!!!not-base64"}, 1)
    assert might_contain({"m": 1 << 20, "k": 7, "b64": "AAAA"}, 1)  # short bitmap
    assert might_contain({"m": -5, "k": 0, "b64": ""}, 1)
    assert might_contain({"m": 64, "k": 7, "b64": "AAAAAAAAAA=="}, [1, 2])  # unhashable


def test_header_declared_length_mismatch_rejected():
    """A header whose declared column length disagrees with the decoded
    data must raise a typed error, not silently serve derived lengths —
    the reference's post-read array validation (src/read.zig:295-299)."""
    import copy
    import json
    import struct

    import pyarrow as pa

    from olive_spark.format import OliveError, read_all_tables, write_chunk

    t = pa.table({"x": pa.array(range(100), pa.int64())})
    blob = write_chunk({"data": t})
    hlen = struct.unpack("<I", blob[4:8])[0]
    hdr = json.loads(blob[8 : 8 + hlen])
    data = blob[8 + hlen :]
    h = copy.deepcopy(hdr)
    h["tables"][0]["fields"][0]["n"] = 7
    hb = json.dumps(h).encode()
    with pytest.raises(OliveError, match="decoded 100 rows"):
        read_all_tables(b"OLV1" + struct.pack("<I", len(hb)) + hb + data)


# --------------------------------------------- page encodings (format v2)


def _page_encodings(blob: bytes, col: str, role: str = "values"):
    th = ChunkReader(blob).header.tables[0]
    return th.fields[th.field_names.index(col)].buffers[role].encodings


def test_for_range_comes_from_valid_slots_only():
    n = 200
    vals = np.arange(n, dtype=np.int64) + 1_000_000
    valid = np.ones(n, bool)
    valid[::7] = valid[3::7] = False
    vals[::7] = np.iinfo(np.int64).min  # garbage under the nulls
    vals[3::7] = np.iinfo(np.int64).max
    arr = pa.Array.from_buffers(
        pa.int64(), n,
        [pa.py_buffer(np.packbits(valid, bitorder="little")), pa.py_buffer(vals)],
    )
    blob = write_chunk({"t": pa.table({"x": arr})})
    assert _page_encodings(blob, "x") == [["for", 1, 1_000_001]]
    assert read_chunk(blob).column("x").chunk(0).equals(arr)


@pytest.mark.parametrize(
    "dtype,lo,hi,enc",
    [
        (pa.int64(), -(2**63), -(2**63) + 200, ["for", 1, -(2**63)]),
        (pa.int64(), 2**63 - 70_000, 2**63 - 1, ["for", 4, 2**63 - 70_000]),
        (pa.int64(), -(2**63), 2**63 - 1, None),
        (pa.uint64(), 2**64 - 300, 2**64 - 1, ["for", 2, 2**64 - 300]),
        (pa.uint64(), 2**63 + 1, 2**63 + 9, ["for", 1, 2**63 + 1]),
        (pa.uint64(), 0, 2**63 + 5, None),
        (pa.int32(), -(2**31), -(2**31) + 40_000, ["for", 2, -(2**31)]),
        (pa.int32(), -(2**31), 2**31 - 1, None),
        (pa.timestamp("us"), -5, 2**31, ["for", 4, -5]),
        (pa.duration("ns"), -(2**40), 2**40, None),
    ],
)
def test_for_full_range_pages_use_unsigned_arithmetic(dtype, lo, hi, enc):
    # 40 rows: below the dictionary trial, so FOR or plain decides alone
    vals = [lo + (hi - lo) * i // 39 for i in range(40)]
    arr = pa.array(vals[::-1], dtype)
    blob = write_chunk({"t": pa.table({"x": arr})})
    assert _page_encodings(blob, "x") == (None if enc is None else [enc])
    assert read_chunk(blob).column("x").chunk(0).equals(arr)


def test_float_page_dictionary_is_bit_exact():
    def pool(ft, ut, nan_payloads):
        nans = np.array(nan_payloads, ut).view(ft)
        return np.concatenate([np.array([0.0, -0.0, np.inf, -np.inf, 1.5], ft), nans])

    pick = np.random.default_rng(0).integers(0, 8, 300)
    t = pa.table({
        "f64": pool(np.float64, np.uint64,
                    [0x7FF8000000000000, 0x7FF8000000000001, 0xFFF0000000000123])[pick],
        "f32": pool(np.float32, np.uint32, [0x7FC00000, 0x7FC00001, 0xFF800123])[pick],
    })
    blob = write_chunk({"t": t})
    got = read_chunk(blob)
    for col, u in (("f64", np.uint64), ("f32", np.uint32)):
        assert _page_encodings(blob, col)[0][0] == "dict"
        bits = [np.frombuffer(x.column(col).chunk(0).buffers()[1], u) for x in (got, t)]
        assert np.array_equal(bits[0], bits[1])


def test_page_subset_reads_across_encodings():
    rng = np.random.default_rng(1)
    x = np.concatenate([
        np.arange(64) + 10**12,                   # frame of reference, 1 byte
        rng.choice([5, 10**15, -(10**15)], 64),   # page dictionary
        rng.integers(-(2**62), 2**62, 64),        # plain
        rng.integers(0, 60_000, 64) - 7,          # frame of reference, 2 bytes
    ])
    words = np.array(["ab", "cdefgh", "ijk", "lmnopqrstu"])
    s = np.concatenate([
        [f"row{i}" for i in range(64)],
        words[rng.integers(0, 4, 64)],
        words[rng.integers(0, 2, 64)],
        [f"{i}" * (i % 5) for i in range(64)],
    ])
    t = pa.table({
        "x": x,
        "s": pa.array(s, mask=np.arange(256) % 13 == 0),
        "f": pa.array(rng.choice([0.5, 0.25], 256), mask=np.arange(256) % 5 == 0),
    })
    blob = write_chunk({"t": t}, page_rows=64)
    assert [e and e[:2] for e in _page_encodings(blob, "x")] == [
        ["for", 1], ["dict", 1], None, ["for", 2]
    ]
    r = ChunkReader(blob)
    assert_tables_equal(r.read_table(), t)
    for pages in ([0], [1], [2], [3], [1, 3], [0, 2], [0, 1, 2, 3]):
        want = pa.concat_tables([t.slice(64 * p, 64) for p in pages])
        assert r.read_table(pages=pages).equals(want.combine_chunks())


def test_encoded_nested_sliced_empty_and_one_row_pages():
    rng = np.random.default_rng(2)
    n = 301
    lens = rng.integers(0, 4, n)
    t = pa.table({
        "l": pa.ListArray.from_arrays(
            np.concatenate([[0], np.cumsum(lens)]).astype(np.int32),
            pa.array(rng.integers(1000, 1100, int(lens.sum())), pa.int64()),
        ),
        "st": pa.StructArray.from_arrays(
            [
                pa.array(rng.integers(-50, 50, n), pa.int32()),
                pa.array(np.array(["red", "green", "blue"])[rng.integers(0, 3, n)]),
                pa.array(rng.choice([1.0, 2.5, -0.0], n)),
            ],
            ["a", "b", "c"],
            mask=pa.array(np.arange(n) % 17 == 0),
        ),
        "m": pa.array(
            [[(f"k{i % 3}", i % 7)] * (i % 3) for i in range(n)],
            pa.map_(pa.string(), pa.int64()),
        ),
        "d": pa.array(rng.integers(18000, 18100, n).astype(np.int32), pa.date32()),
    })
    th = ChunkReader(write_chunk({"t": t})).header.tables[0]
    child = th.fields[0].children[0]
    assert child.buffers["values"].encodings == [["for", 1, 1000]]
    assert th.fields[0].buffers["lengths"].encodings[0][0] == "for"
    assert th.fields[1].children[0].buffers["values"].encodings[0][0] == "for"
    for sl in (t, t.slice(37, 200), t.slice(0, 65), t.slice(300, 1), t.slice(5, 0)):
        for page_rows in (64, 65536):
            assert_tables_equal(roundtrip({"t": sl}, page_rows=page_rows)["t"], sl)


def _v1_table() -> pa.Table:
    n = 100
    return pa.table({
        "i64": pa.array([i * 7 - 300 if i % 9 else None for i in range(n)], pa.int64()),
        "d": pa.array([18000 + i % 30 for i in range(n)], pa.date32()),
        "f": pa.array([(i % 5) / 4 for i in range(n)], pa.float64()),
        "s": pa.array([["air", "rail", "truck by road"][i % 3] if i % 11 else None
                       for i in range(n)]),
        "l": pa.array([[i, i + 1] if i % 4 else [] for i in range(n)], pa.list_(pa.int32())),
        "st": pa.array([{"a": i % 3, "b": f"x{i % 4}"} for i in range(n)],
                       pa.struct([("a", pa.int16()), ("b", pa.string())])),
        "h": pa.array([bytes([i % 5]) * 20 for i in range(n)], pa.binary(20)),
    })


def _committed_file(name: str) -> bytes:
    import os

    with open(os.path.join(os.path.dirname(__file__), "data", name), "rb") as f:
        return f.read()


def test_reads_committed_format_v1_file():
    # written by the version-1 writer (before page encodings) from
    # _v1_table() with page_rows=64
    r = ChunkReader(_committed_file("format_v1.olive"))
    assert r.header.version == 1
    assert_tables_equal(r.read_table(), _v1_table())
    assert r.read_table(pages=[1]).equals(_v1_table().slice(64).combine_chunks())


def test_reads_committed_format_v2_lz4_file():
    # written by the version-2 writer whose balanced bias gave lz4 to all
    # but var-width data, from _v1_table() with page_rows=64
    r = ChunkReader(_committed_file("format_v2_lz4.olive"))
    assert r.header.version == 2
    assert {c for _, _, c in _buffer_codecs(r)} == {"lz4", "zstd"}
    assert_tables_equal(r.read_table(), _v1_table())
    assert r.read_table(pages=[1]).equals(_v1_table().slice(64).combine_chunks())


# ------------------------------------------------------ codec policy per bias


def _codec_matrix() -> dict[str, pa.Table]:
    """Every type of the round-trip matrix, with nulls, encoded pages and
    both global dictionaries."""
    rng = np.random.default_rng(3)
    fsb = pa.table({
        "h20": pa.array([rng.bytes(20) for _ in range(9)] + [None], pa.binary(20)),
        "h32": pa.array([rng.bytes(32) for _ in range(10)], pa.binary(32)),
    })
    return {"prim": make_primitive_table(), "nested": make_nested_table(),
            "fsb": fsb, "enc": _v1_table()}


def _buffer_codecs(r: ChunkReader) -> list[tuple[str, str, str]]:
    """(array tag, buffer role, codec) for every buffer in the header."""
    stack = [f for t in r.header.tables for f in t.fields]
    out = []
    while stack:
        h = stack.pop()
        stack.extend(h.children)
        out += [(h.tag, role, b.compression) for role, b in h.buffers.items()]
    return out


def test_balanced_bias_compresses_every_page_with_zstd():
    tables = _codec_matrix()
    blob = write_chunk(tables, page_rows=64)
    r = ChunkReader(blob)
    codecs = _buffer_codecs(r)
    assert {role for _, role, _ in codecs} == {"validity", "values", "data", "lengths", "indices"}
    assert {c for _, _, c in codecs} == {"zstd"}
    # the global dictionaries stay uncompressed: their bytes are the
    # chunk's sorted distinct values of that width as they are
    for d in (r.header.dict20, r.header.dict32):
        vals = {
            v for t in tables.values() for col in t.columns
            if col.type == pa.binary(d.width) for v in col.to_pylist() if v
        }
        assert bytes(r.data[d.offset : d.offset + d.size]) == b"".join(sorted(vals))
    got = read_all_tables(blob)
    for name, t in tables.items():
        assert_tables_equal(got[name], t)


def test_read_optimized_bias_keeps_the_lz4_split():
    blob = write_chunk(_codec_matrix(), page_rows=64, compression_bias="read_optimized")
    for tag, role, codec in _buffer_codecs(ChunkReader(blob)):
        want = "lz4_hc" if (tag, role) == ("binary", "data") else "lz4"
        assert codec == want, (tag, role)
