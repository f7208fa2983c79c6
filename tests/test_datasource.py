"""Spark DataSource surface tests: write→read roundtrips, options
(table/columns/chunkRows/compressionBias), filter pushdown + page
skipping correctness, overwrite, error surfaces."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from olive_spark.format import write_chunk


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from olive_spark import register_olive

    register_olive(s)
    yield s


def test_spark_write_read_roundtrip(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rt"))
    df = spark.range(0, 10_000).selectExpr(
        "id", "cast(id * 1.5 as double) AS v", "concat('name-', id) AS s",
        "cast(id % 2 = 0 as boolean) AS b",
    )
    df.write.format("olive").mode("overwrite").save(out)
    got = spark.read.format("olive").load(out)
    assert got.count() == 10_000
    assert sorted(got.columns) == ["b", "id", "s", "v"]
    assert got.agg({"v": "sum"}).collect()[0][0] == pytest.approx(
        df.agg({"v": "sum"}).collect()[0][0]
    )


def test_spark_write_chunk_split(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("split"))
    spark.range(0, 5_000).coalesce(1).write.format("olive").mode("append").option(
        "chunkRows", 1000
    ).save(out)
    files = [f for f in os.listdir(out) if f.endswith(".olive")]
    assert len(files) == 5, "one chunk file per 1000 rows"
    assert spark.read.format("olive").load(out).count() == 5_000


def test_filter_pushdown_matches_unfiltered(spark, tmp_path_factory):
    """Page skipping must be transparent: filtered results equal the
    post-hoc filter of a full scan, across page boundaries."""
    out = str(tmp_path_factory.mktemp("pages"))
    spark.range(0, 50_000).selectExpr("id", "id % 97 AS m").coalesce(
        1
    ).write.format("olive").mode("append").option("pageRows", 1024).save(out)
    df = spark.read.format("olive").load(out)
    fast = df.filter("id >= 40000 AND id < 40100").collect()
    slow = [r for r in df.collect() if 40000 <= r["id"] < 40100]
    assert sorted(r["id"] for r in fast) == sorted(r["id"] for r in slow)
    assert len(fast) == 100


def test_columns_option_prunes(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cols"))
    spark.range(0, 100).selectExpr("id", "id*2 AS a", "id*3 AS b").write.format(
        "olive"
    ).mode("append").save(out)
    got = spark.read.format("olive").option("columns", "id,b").load(out)
    assert got.columns == ["id", "b"]
    assert got.count() == 100


def test_multi_table_chunk_option(spark, tmp_path):
    t1 = pa.table({"x": pa.array([1, 2, 3], pa.int64())})
    t2 = pa.table({"y": pa.array(["a", "b"], pa.string())})
    p = tmp_path / "multi"
    p.mkdir()
    (p / "part-00000.olive").write_bytes(write_chunk({"t1": t1, "t2": t2}))
    assert spark.read.format("olive").option("table", "t1").load(str(p)).count() == 3
    assert spark.read.format("olive").option("table", "t2").load(str(p)).count() == 2
    # no table option on a multi-table chunk → clear error
    with pytest.raises(Exception, match="multi-table|table"):
        spark.read.format("olive").load(str(p)).collect()


def test_unsigned_widening_through_spark(spark, tmp_path):
    t = pa.table({
        "u8": pa.array([0, 255], pa.uint8()),
        "u32": pa.array([0, 2**32 - 1], pa.uint32()),
        "u64": pa.array([0, 2**64 - 1], pa.uint64()),
    })
    p = tmp_path / "uns"
    p.mkdir()
    (p / "part-00000.olive").write_bytes(write_chunk({"uns": t}))
    got = spark.read.format("olive").load(str(p))
    types = dict(got.dtypes)
    assert types["u8"] == "smallint"
    assert types["u32"] == "bigint"
    assert types["u64"] == "decimal(20,0)"
    row = got.orderBy("u8").collect()[-1]
    assert row["u8"] == 255 and row["u32"] == 2**32 - 1
    assert int(row["u64"]) == 2**64 - 1


def test_read_missing_path_raises(spark, tmp_path):
    with pytest.raises(Exception, match="no .olive files|PATH_NOT_FOUND|not an olive"):
        spark.read.format("olive").load(str(tmp_path / "nope")).collect()


def test_in_filter_pushdown(spark, tmp_path):
    """IN-list predicates reach pushFilters as In(attribute, value) —
    regression: the tuple field is .value, not .values."""
    t = pa.table({"k": pa.array(range(100), pa.int64()),
                  "v": pa.array([i * 2 for i in range(100)], pa.int64())})
    p = tmp_path / "inpush"
    p.mkdir()
    (p / "part-00000.olive").write_bytes(write_chunk({"t": t}))
    df = spark.read.format("olive").load(str(p))
    got = df.filter(df.k.isin(3, 7, 99, 1234)).orderBy("k").collect()
    assert [r["k"] for r in got] == [3, 7, 99]
    assert [r["v"] for r in got] == [6, 14, 198]


def test_partitioned_write_roundtrip(spark, tmp_path):
    t = pa.table({
        "k": pa.array(range(60), pa.int64()),
        "cat": pa.array(["a", "b", "c"] * 20, pa.string()),
    })
    src = tmp_path / "src"
    src.mkdir()
    (src / "in.olive").write_bytes(write_chunk({"data": t}))
    df = spark.read.format("olive").load(str(src))
    out = tmp_path / "parted"
    df.write.format("olive").option("partitionBy", "cat").mode("append").save(str(out))
    dirs = sorted(p.name for p in out.iterdir() if p.is_dir())
    assert dirs == ["cat=a", "cat=b", "cat=c"]
    back = spark.read.format("olive").load(str(out))
    assert back.count() == 60
    assert sorted(r["k"] for r in back.collect()) == list(range(60))


def test_partition_pruning_skips_directories(spark, tmp_path):
    """Directory pruning must be real: a poisoned file in a non-matching
    partition proves the reader never opens pruned directories."""
    out = tmp_path / "pp"
    for cat in ["a", "b"]:
        d = out / f"cat={cat}"
        d.mkdir(parents=True)
        t = pa.table({
            "k": pa.array(range(10), pa.int64()),
            "cat": pa.array([cat] * 10, pa.string()),
        })
        (d / "part-0.olive").write_bytes(write_chunk({"data": t}))
    poison = out / "cat=z"
    poison.mkdir()
    (poison / "part-0.olive").write_bytes(b"OLIVEGARBAGE" * 10)

    def load():  # fresh relation per filtered query (pushdown contract)
        return spark.read.format("olive").option("pushdown", "true").load(str(out))

    got = load().filter("cat = 'a'").collect()
    assert len(got) == 10 and all(r["cat"] == "a" for r in got)
    got = load().filter("cat in ('a', 'b')").collect()
    assert len(got) == 20


def test_no_pushdown_by_default_keeps_reused_relation_correct(spark, tmp_path):
    """Regression for Spark's per-relation readInfo cache: a filtered
    action followed by a filter-less action on the SAME DataFrame.  With
    pruning opt-in left off (the default), the cached plan is always the
    full scan, so the second action must see every row."""
    t = pa.table({"k": pa.array(range(500), pa.int64())})
    d = tmp_path / "reuse"
    d.mkdir()
    for i in range(2):
        (d / f"part-{i}.olive").write_bytes(
            write_chunk({"data": t.slice(i * 250, 250)}, page_rows=64)
        )
    df = spark.read.format("olive").load(str(d))
    assert df.filter("k < 5").count() == 5
    assert df.count() == 500  # poisoned-cache symptom would be 250

    # the opted-in path stays correct when each query loads fresh
    f1 = spark.read.format("olive").option("pushdown", "true").load(str(d))
    assert f1.filter("k < 5").count() == 5
    f2 = spark.read.format("olive").option("pushdown", "true").load(str(d))
    assert f2.count() == 500


def test_scan_works_with_filter_pushdown_conf_disabled(spark, tmp_path):
    """A session where spark.sql.python.filterPushdown.enabled is off
    (locked, old deployment) must still scan olive: the default reader
    does not implement pushFilters, so Spark never raises
    DATA_SOURCE_PUSHDOWN_DISABLED.  Only .option("pushdown","true")
    relations require the conf, and they fail loud at plan time with
    Spark's error naming the exact conf line (r7 verdict item 3)."""
    t = pa.table({"k": pa.array(range(100), pa.int64())})
    d = tmp_path / "noconf"
    d.mkdir()
    (d / "part-0.olive").write_bytes(write_chunk({"data": t}))
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        df = spark.read.format("olive").load(str(d))
        assert df.count() == 100
        assert df.filter("k < 7").count() == 7  # post-scan filter still applies
        # opt-in pruning without the conf: loud plan-time failure, not silence
        bad = spark.read.format("olive").option("pushdown", "true").load(str(d))
        with pytest.raises(Exception, match="PUSHDOWN_DISABLED|filterPushdown"):
            bad.filter("k < 7").count()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_compact_merges_small_files(spark, tmp_path):
    from olive_spark.ops.maintenance import compact

    d = tmp_path / "frag"
    d.mkdir()
    for i in range(10):
        t = pa.table({"k": pa.array(range(i * 50, i * 50 + 50), pa.int64())})
        (d / f"part-{i}.olive").write_bytes(write_chunk({"data": t}))
    stats = compact(spark, str(d), target_rows=250)
    assert stats == {"files_before": 10, "files_after": 2, "rows": 500}
    back = spark.read.format("olive").load(str(d))
    assert sorted(r["k"] for r in back.collect()) == list(range(500))


def _clustered_table(d, files: int, rows_per_file: int) -> None:
    """``files`` chunk files holding consecutive key ranges."""
    d.mkdir()
    for i in range(files):
        lo = i * rows_per_file
        keys = range(lo, lo + rows_per_file)
        t = pa.table({"k": pa.array(keys, pa.int64()),
                      "s": pa.array([f"row-{k}" for k in keys], pa.string())})
        (d / f"part-{i:03d}.olive").write_bytes(write_chunk({"data": t}))


def _file_key_ranges(path: str) -> "list[tuple[int, int, int]]":
    """(min k, max k, rows) per live chunk file, in listing order (the
    order the next scan packs them in)."""
    from olive_spark.datasource.olive_datasource import (
        _list_chunk_files,
        _read_header_bytes,
    )

    out = []
    for fp in _list_chunk_files(path):
        header, _ = _read_header_bytes(fp)
        th = header.tables[0]
        st = th.fields[th.field_names.index("k")].stats
        out.append((min(st["min"]), max(st["max"]), th.num_rows))
    return out


def _assert_disjoint(ranges) -> None:
    """Ascending, non-overlapping key ranges in listing order."""
    for (_, hi1, _), (lo2, _, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file key ranges overlap: {ranges}"


def _scan_partitions(spark, path: str, cap: int) -> int:
    from olive_spark.datasource.olive_datasource import OliveReader

    return len(OliveReader(
        {"path": path, "maxPartitionBytes": str(cap)},
        spark.read.format("olive").load(path).schema,
    ).partitions())


def _compact_job_tasks(spark, group: str, fn):
    """Run ``fn`` in a job group; return (its result, [tasks per job])."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    return out, [
        sum(tracker.getStageInfo(s).numTasks
            for s in tracker.getJobInfo(j).stageIds)
        for j in tracker.getJobIdsForGroup(group)
    ]


class _ScanCapped:
    """A session whose reads carry a ``maxPartitionBytes`` option, so a
    verb's own scan plans several partitions of a small table."""

    def __init__(self, session, cap: int) -> None:
        self._session, self._cap = session, cap

    def __getattr__(self, name):
        return getattr(self._session, name)

    @property
    def read(self):
        return self._session.read.option("maxPartitionBytes", self._cap)


def test_compact_keeps_clustering_without_a_shuffle(spark, tmp_path, monkeypatch):
    """Plain compaction writes straight through the scan's partitions:
    the write plan has no Exchange, and a key-clustered table keeps
    disjoint per-file key ranges (a round-robin repartition spreads every
    output file over the whole key range)."""
    import contextlib
    import io

    from olive_spark.ops import maintenance as M

    d = tmp_path / "clustered"
    _clustered_table(d, 20, 500)
    plans = []
    rewrite = M._rewrite_and_swap

    def spy(df, *args, **kwargs):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plans.append(buf.getvalue())
        return rewrite(df, *args, **kwargs)

    monkeypatch.setattr(M, "_rewrite_and_swap", spy)
    stats = M.compact(spark, str(d), target_rows=800)
    assert stats == {"files_before": 20, "files_after": 13, "rows": 10_000}
    assert len(plans) == 1 and "BatchScan olive" in plans[0]
    assert "Exchange" not in plans[0], plans[0]
    ranges = _file_key_ranges(str(d))
    _assert_disjoint(ranges)
    assert [r for _, _, r in ranges] == [800] * 12 + [400]


def test_compact_writes_one_task_per_scan_partition(spark, tmp_path):
    """With the scan forced into fewer partitions than output files,
    compaction is one job of one writer task per scan partition; every
    file holds at most target_rows rows, each task adds at most one
    short file, and file key ranges stay disjoint in listing order,
    also after a second compaction of the result."""
    from olive_spark.ops.maintenance import compact

    d = tmp_path / "capped"
    _clustered_table(d, 20, 500)
    cap = 3 * (os.path.getsize(d / "part-000.olive") + (128 << 10))
    capped = _ScanCapped(spark, cap)
    for rnd in range(2):
        parts = _scan_partitions(spark, str(d), cap)
        assert 1 < parts < 13
        stats, tasks = _compact_job_tasks(
            spark, f"compact_tasks_{rnd}",
            lambda: compact(capped, str(d), target_rows=800),
        )
        assert tasks == [parts], tasks
        ranges = _file_key_ranges(str(d))
        assert stats["rows"] == sum(r for _, _, r in ranges) == 10_000
        assert all(r <= 800 for _, _, r in ranges)
        assert len(ranges) <= -(-10_000 // 800) + parts - 1
        _assert_disjoint(ranges)
    back = spark.read.format("olive").load(str(d))
    assert sorted(r["k"] for r in back.collect()) == list(range(10_000))


def test_compact_coalesces_a_wide_scan_and_settles(spark, tmp_path):
    """A scan with more partitions than output files is coalesced, with
    no shuffle, to one writer task per output file, so the tail files
    do not multiply with the scan width: the result is exactly
    ceil(rows/target_rows) files here, in key order, and a later
    compact_if_needed over the same wide scan has nothing to do."""
    from olive_spark.ops.maintenance import compact, compact_if_needed

    d = tmp_path / "wide"
    _clustered_table(d, 20, 500)
    cap = os.path.getsize(d / "part-000.olive") + (128 << 10)
    assert _scan_partitions(spark, str(d), cap) == 20
    capped = _ScanCapped(spark, cap)
    stats, tasks = _compact_job_tasks(
        spark, "compact_wide",
        lambda: compact(capped, str(d), target_rows=5000),
    )
    assert tasks == [2], tasks
    assert stats == {"files_before": 20, "files_after": 2, "rows": 10_000}
    ranges = _file_key_ranges(str(d))
    assert [r for _, _, r in ranges] == [5000, 5000]
    _assert_disjoint(ranges)
    again = compact_if_needed(capped, str(d), target_rows=5000)
    assert again == {"compacted": False, "small_files": 2, "files": 2}

    one = tmp_path / "wide_one"
    _clustered_table(one, 20, 500)
    stats = compact(capped, str(one), target_rows=10_000)
    assert stats == {"files_before": 20, "files_after": 1, "rows": 10_000}


def test_compact_sorted_layout_gives_disjoint_file_stats(spark, tmp_path):
    """After sort_by compaction each file owns a disjoint key interval —
    the property that makes range predicates prune whole files."""
    import random

    from olive_spark.datasource.olive_datasource import (
        _list_chunk_files,
        _read_header_bytes,
    )
    from olive_spark.ops.maintenance import compact

    rng = random.Random(7)
    vals = list(range(1000))
    rng.shuffle(vals)
    d = tmp_path / "sorted"
    d.mkdir()
    for i in range(4):
        t = pa.table({"k": pa.array(vals[i * 250:(i + 1) * 250], pa.int64())})
        (d / f"part-{i}.olive").write_bytes(write_chunk({"data": t}))
    compact(spark, str(d), target_rows=250, sort_by="k")
    ranges = []
    for fp in _list_chunk_files(str(d)):
        header, _ = _read_header_bytes(fp)
        th = header.tables[0]
        st = th.fields[th.field_names.index("k")].stats
        ranges.append((min(st["min"]), max(st["max"])))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: {ranges}"


def test_csv_json_orc_ingest_to_olive(spark, tmp_path):
    """Ingest breadth: foreign sources (CSV, JSONL, ORC) land in olive
    via a plain Spark job — the 100 TB ingest path is scan → olive
    write, distributed like any other query."""
    csv = tmp_path / "in.csv"
    csv.write_text("k,name\n1,alpha\n2,beta\n3,gamma\n")
    jl = tmp_path / "in.jsonl"
    jl.write_text('{"k": 4, "name": "delta"}\n{"k": 5, "name": "epsilon"}\n')
    orc = tmp_path / "in.orc"
    spark.createDataFrame([(6, "zeta")], "k long, name string") \
        .write.orc(str(orc))
    out = tmp_path / "olive_ingest"
    spark.read.option("header", "true").option("inferSchema", "true") \
        .csv(str(csv)).write.format("olive").mode("append").save(str(out))
    spark.read.json(str(jl)).select("k", "name") \
        .write.format("olive").mode("append").save(str(out))
    spark.read.orc(str(orc)).select("k", "name") \
        .write.format("olive").mode("append").save(str(out))
    back = spark.read.format("olive").load(str(out))
    got = {(r["k"], r["name"]) for r in back.collect()}
    assert got == {(1, "alpha"), (2, "beta"), (3, "gamma"),
                   (4, "delta"), (5, "epsilon"), (6, "zeta")}


def test_merge_schema_null_fills_old_files(spark, tmp_path):
    """Schema drift: a column added later null-fills for chunks written
    before it existed (mergeSchema=true unions all headers)."""
    d = tmp_path / "drift"
    d.mkdir()
    old = pa.table({"k": pa.array([1, 2], pa.int64())})
    new = pa.table({"k": pa.array([3, 4], pa.int64()),
                    "tag": pa.array(["x", "y"], pa.string())})
    (d / "part-0.olive").write_bytes(write_chunk({"data": old}))
    (d / "part-1.olive").write_bytes(write_chunk({"data": new}))
    df = spark.read.format("olive").option("mergeSchema", "true").load(str(d))
    assert set(df.columns) == {"k", "tag"}
    got = {(r["k"], r["tag"]) for r in df.collect()}
    assert got == {(1, None), (2, None), (3, "x"), (4, "y")}
    # pruned read of only the drifted column still null-fills
    tags = [r["tag"] for r in spark.read.format("olive")
            .option("mergeSchema", "true").option("columns", "tag")
            .load(str(d)).collect()]
    assert sorted(t or "" for t in tags) == ["", "", "x", "y"]


def test_scan_partitions_bin_pack_small_files(spark, tmp_path):
    """Many small chunk files pack into ~scanParallelism partitions
    (each Python DS task costs a worker round trip), while the per-file
    data still reads back completely."""
    from olive_spark.datasource.olive_datasource import OliveReader, _pack_files

    d = tmp_path / "packed"
    d.mkdir()
    t = pa.table({"x": pa.array(range(100), pa.int64())})
    for i in range(12):
        (d / f"part-{i:03d}.olive").write_bytes(write_chunk({"data": t}))

    r = OliveReader(
        {"path": str(d), "scanParallelism": "4"},
        spark.read.format("olive").load(str(d)).schema,
    )
    parts = r.partitions()
    assert len(parts) == 4, f"expected 4 packed partitions, got {len(parts)}"
    assert sum(len(p.files) for p in parts) == 12
    # a huge maxPartitionBytes with parallelism 1 packs everything
    assert len(_pack_files([str(d / f) for f in sorted(os.listdir(d))],
                           128 << 20, 128 << 10, 1)) == 1
    # data survives packing end-to-end
    got = spark.read.format("olive").option("scanParallelism", "4").load(str(d))
    assert got.count() == 1200


def test_scan_below_partition_floor_plans_one_partition(spark, tmp_path):
    """A derived scan width never plans partitions under
    MIN_PARTITION_BYTES: a table below the floor is one partition, one
    Python worker round trip."""
    from olive_spark.datasource.olive_datasource import (
        MIN_PARTITION_BYTES,
        OliveReader,
    )

    d = tmp_path / "floor"
    d.mkdir()
    t = pa.table({"x": pa.array(range(100), pa.int64())})
    for i in range(12):
        (d / f"part-{i:03d}.olive").write_bytes(write_chunk({"data": t}))
    padded = sum(os.path.getsize(d / f) + (128 << 10) for f in os.listdir(d))
    assert padded < MIN_PARTITION_BYTES
    schema = spark.read.format("olive").load(str(d)).schema
    parts = OliveReader({"path": str(d)}, schema).partitions()
    assert [len(p.files) for p in parts] == [12]
    assert spark.read.format("olive").load(str(d)).count() == 1200


def test_header_cache_hits_and_invalidates(tmp_path):
    from olive_spark.format import header as R

    fp = tmp_path / "c.olive"
    t = pa.table({"x": pa.array(range(10), pa.int64())})
    fp.write_bytes(write_chunk({"data": t}))
    R._HEADER_CACHE.clear()
    h1, off1 = R.read_header(str(fp))
    assert R.read_header(str(fp))[0] is h1, "second read must hit the cache"
    # rewrite with different content → (size, mtime) key must invalidate
    t2 = pa.table({"x": pa.array(range(1000), pa.int64())})
    fp.write_bytes(write_chunk({"data": t2}))
    h2, _ = R.read_header(str(fp))
    assert h2 is not h1
    assert h2.tables[0].num_rows == 1000


def test_compact_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering: after a Morton-key rewrite, a narrow range on
    EITHER column must exclude some files by min/max stats — a plain
    1-D sort can only ever prune its own sort column."""
    from olive_spark.datasource.olive_datasource import (
        _list_chunk_files,
        _read_header_bytes,
    )
    from olive_spark.ops.maintenance import compact

    n = 32
    t = pa.table({
        "x": pa.array([i % n for i in range(n * n)], pa.int64()),
        "y": pa.array([i // n for i in range(n * n)], pa.int64()),
    })
    d = tmp_path / "zorder"
    d.mkdir()
    (d / "part-0.olive").write_bytes(write_chunk({"data": t}))
    compact(spark, str(d), target_rows=64, zorder_by=["x", "y"])

    def span(col):
        out = []
        for fp in _list_chunk_files(str(d)):
            header, _ = _read_header_bytes(fp)
            th = header.tables[0]
            st = th.fields[th.field_names.index(col)].stats
            out.append((min(st["min"]), max(st["max"])))
        return out

    xs, ys = span("x"), span("y")
    n_files = len(xs)
    assert n_files == 16
    # a slice covering the lowest eighth of each axis must exclude
    # most files on stats alone
    hit_x = sum(1 for lo, hi in xs if lo <= n // 8)
    hit_y = sum(1 for lo, hi in ys if lo <= n // 8)
    assert hit_x <= n_files // 2, f"x stats don't prune: {xs}"
    assert hit_y <= n_files // 2, f"y stats don't prune: {ys}"
    # content survives the rewrite
    back = spark.read.format("olive").load(str(d))
    assert back.count() == n * n


def test_sorted_layout_prunes_scan_partitions(spark, tmp_path):
    """File-level stats pruning composes with sorted compaction: a range
    predicate plans fewer scan partitions than there are files."""
    from olive_spark.datasource.olive_datasource import OliveReader
    from olive_spark.ops.maintenance import compact

    d = tmp_path / "pr"
    d.mkdir()
    t = pa.table({"k": pa.array(range(1000), pa.int64())})
    (d / "part-0.olive").write_bytes(write_chunk({"data": t}))
    compact(spark, str(d), target_rows=250, sort_by="k")

    def surviving_files(preds):
        r = OliveReader(
            {"path": str(d)}, spark.read.format("olive").load(str(d)).schema
        )
        r.predicates = preds
        return sum(
            len(p.files)
            for p in r.partitions()
            if not (p.predicates and p.predicates[0][0] == "__none__")
        )

    # partitions may bin-pack several small files; pruning is per-FILE
    assert surviving_files([("k", ">=", 900)]) == 1
    assert surviving_files([("k", "<", 260)]) == 2  # files [0,250) and [250,500)


def _surviving(spark, path, preds):
    from olive_spark.datasource.olive_datasource import OliveReader

    r = OliveReader({"path": path}, spark.read.format("olive").load(path).schema)
    r.predicates = list(preds)
    return sum(
        len(p.files)
        for p in r.partitions()
        if not (p.predicates and p.predicates[0][0] == "__none__")
    )


def test_manifest_written_at_commit_and_prunes_without_header_reads(
    spark, tmp_path, monkeypatch
):
    """The directory manifest alone (no per-file header I/O) must prune
    files at plan time — the 100 TB path where opening every header
    would cost one I/O per file."""
    import json

    from olive_spark.datasource import olive_datasource as ds
    from olive_spark.format.manifest import MANIFEST_NAME

    out = str(tmp_path / "mf")
    spark.range(0, 2000).coalesce(1).write.format("olive").mode(
        "append"
    ).option("chunkRows", 500).save(out)

    mf_path = os.path.join(out, MANIFEST_NAME)
    assert os.path.exists(mf_path)
    doc = json.load(open(mf_path))
    assert len(doc["files"]) == 4
    ent = next(iter(doc["files"].values()))
    assert set(ent) >= {"rows", "size", "columns"}
    assert ent["columns"]["id"]["min"] is not None

    def boom(_):
        raise AssertionError("header read attempted during planning")

    monkeypatch.setattr(ds, "_read_header_bytes", boom)
    # disjoint 500-row ranges per file → range predicate must prune via
    # the manifest alone (header path is booby-trapped above)
    assert _surviving(spark, out, [("id", ">=", 1500)]) == 1
    assert _surviving(spark, out, [("id", "<", 400)]) == 1
    monkeypatch.undo()
    got = spark.read.format("olive").load(out).filter("id >= 1500").count()
    assert got == 500


def test_manifest_stale_entry_falls_back_to_header(spark, tmp_path):
    """A manifest whose recorded size mismatches the file on disk must
    be ignored for that file — out-of-band rewrites can cost pruning,
    never rows."""
    import json

    from olive_spark.format.manifest import MANIFEST_NAME

    out = str(tmp_path / "stale")
    spark.range(0, 1000).coalesce(1).write.format("olive").mode(
        "append"
    ).option("chunkRows", 500).save(out)
    mf_path = os.path.join(out, MANIFEST_NAME)
    doc = json.load(open(mf_path))
    for rel, ent in doc["files"].items():
        # lie aggressively: stats that would prune EVERY query — but
        # with a wrong size, so lookup() must reject the entry
        ent["columns"]["id"] = {"min": -2, "max": -1}
        ent["size"] = ent["size"] + 1
    json.dump(doc, open(mf_path, "w"))
    assert spark.read.format("olive").load(out).filter("id >= 900").count() == 100


def test_compact_carries_stats_into_manifest(spark, tmp_path, monkeypatch):
    """Sorted compaction + manifest: the compacted files' stats survive
    the rename swap, so range plans prune them without header reads."""
    from olive_spark.datasource import olive_datasource as ds
    from olive_spark.format.manifest import load_manifest
    from olive_spark.ops.maintenance import compact

    d = tmp_path / "cm"
    d.mkdir()
    t = pa.table({"k": pa.array(range(1000), pa.int64())})
    (d / "part-0.olive").write_bytes(write_chunk({"data": t}))
    compact(spark, str(d), target_rows=250, sort_by="k")

    mf = load_manifest(str(d))
    assert len(mf) == 4 and all(r.startswith("compact-") for r in mf)

    def boom(_):
        raise AssertionError("header read attempted during planning")

    monkeypatch.setattr(ds, "_read_header_bytes", boom)
    assert _surviving(spark, str(d), [("k", ">=", 900)]) == 1
    monkeypatch.undo()
    assert spark.read.format("olive").load(str(d)).filter("k >= 900").count() == 100


def test_compact_zorder_three_columns_prunes_each_dimension(spark, tmp_path):
    """N-column Z-order (new in r6): with three interleaved columns, a
    narrow range on ANY of the three must exclude files on stats."""
    from olive_spark.datasource.olive_datasource import (
        _list_chunk_files,
        _read_header_bytes,
    )
    from olive_spark.ops.maintenance import compact

    n = 10
    rows = [(i % n, (i // n) % n, i // (n * n)) for i in range(n ** 3)]
    t = pa.table({
        "x": pa.array([r[0] for r in rows], pa.int64()),
        "y": pa.array([r[1] for r in rows], pa.int64()),
        "z": pa.array([r[2] for r in rows], pa.int64()),
    })
    d = tmp_path / "z3"
    d.mkdir()
    (d / "part-0.olive").write_bytes(write_chunk({"data": t}))
    compact(spark, str(d), target_rows=125, zorder_by=["x", "y", "z"])

    def spans(col):
        out = []
        for fp in _list_chunk_files(str(d)):
            header, _ = _read_header_bytes(fp)
            th = header.tables[0]
            st = th.fields[th.field_names.index(col)].stats
            out.append((min(st["min"]), max(st["max"])))
        return out

    n_files = len(_list_chunk_files(str(d)))
    assert n_files == 8
    for col in ("x", "y", "z"):
        hits = sum(1 for lo, hi in spans(col) if lo <= 1)
        assert hits <= n_files // 2 + 1, f"{col} stats don't prune: {spans(col)}"
    back = spark.read.format("olive").load(str(d))
    assert back.count() == n ** 3
    with pytest.raises(ValueError):
        compact(spark, str(d), zorder_by=["x"])


def test_all_empty_write_roundtrips_schema(spark, tmp_path):
    """A write where every task is empty (filter matched nothing —
    routine at pipeline scale) must still produce a readable table:
    one schema-bearing empty chunk, zero rows, exact schema."""
    out = str(tmp_path / "allempty")
    spark.range(10).selectExpr("id", "cast(id as double) v").filter(
        "id < 0"
    ).write.format("olive").mode("append").save(out)
    got = spark.read.format("olive").load(out)
    assert got.count() == 0
    assert got.schema.simpleString() == "struct<id:bigint,v:double>"
    # appending real rows afterwards works and the empty chunk is benign
    spark.range(5).selectExpr("id", "cast(id as double) v").write.format(
        "olive"
    ).mode("append").save(out)
    assert spark.read.format("olive").load(out).count() == 5


def test_startswith_and_null_predicates_prune_files(spark, tmp_path):
    """StringStartsWith prunes via the [prefix, bump(prefix)) range on
    string stats; IS [NOT] NULL prunes from null counts — manifest
    first, header null_count as fallback."""
    import json

    from olive_spark.format.manifest import MANIFEST_NAME

    out = str(tmp_path / "sw")
    # two files with disjoint string ranges: aaa-* and zzz-*
    spark.createDataFrame(
        [(i, f"aaa-{i:03d}") for i in range(100)], "id long, s string"
    ).coalesce(1).write.format("olive").mode("append").save(out)
    spark.createDataFrame(
        [(i, f"zzz-{i:03d}") for i in range(100, 200)], "id long, s string"
    ).coalesce(1).write.format("olive").mode("append").save(out)
    # third file: s entirely NULL
    spark.createDataFrame(
        [(i, None) for i in range(200, 300)], "id long, s string"
    ).coalesce(1).write.format("olive").mode("append").save(out)

    assert _surviving(spark, out, [("s", "startswith", "zzz-")]) == 1
    assert _surviving(spark, out, [("s", "startswith", "mmm")]) == 0, \
        "aaa/zzz pruned by range, the all-null file by null count"
    assert _surviving(spark, out, [("s", "notnull", None)]) == 2
    assert _surviving(spark, out, [("s", "isnull", None)]) == 1

    # header fallback must agree when the manifest is gone
    os.remove(os.path.join(out, MANIFEST_NAME))
    assert _surviving(spark, out, [("s", "notnull", None)]) == 2
    assert _surviving(spark, out, [("s", "isnull", None)]) == 1

    # end-to-end through Spark with pushdown on: results exact
    df = (
        spark.read.format("olive")
        .option("pushdown", "true")
        .load(out)
    )
    assert df.filter("s LIKE 'zzz-%'").count() == 100
    df2 = spark.read.format("olive").option("pushdown", "true").load(out)
    assert df2.filter("s IS NULL").count() == 100
    df3 = spark.read.format("olive").option("pushdown", "true").load(out)
    assert df3.filter("s IS NOT NULL AND s LIKE 'aaa-00%'").count() == 10


def test_bloom_pruning_skips_files(spark, tmp_path):
    """File-level Bloom pruning must be real: two chunks with fully
    OVERLAPPING key ranges (so min/max stats cannot discriminate), the
    non-matching one poisoned in its data section — a point lookup that
    only the Bloom filter can prove absent from the poisoned chunk must
    succeed without ever decoding it."""
    d = tmp_path / "bloomscan"
    d.mkdir()
    even = pa.table({
        "doc": pa.array(range(0, 20, 2), pa.int64()),
        "h": pa.array([f"k{i:02d}" for i in range(0, 20, 2)], pa.string()),
    })
    odd = pa.table({
        "doc": pa.array(range(1, 20, 2), pa.int64()),
        "h": pa.array([f"k{i:02d}" for i in range(1, 20, 2)], pa.string()),
    })
    (d / "part-0.olive").write_bytes(
        write_chunk({"data": even}, bloom_columns=["h"])
    )
    blob = write_chunk({"data": odd}, bloom_columns=["h"])
    # poison the data section tail; the framed header (start of file,
    # where the bloom lives) stays intact so plan-time pruning still works
    (d / "part-1.olive").write_bytes(blob[:-40] + b"\xff" * 40)

    def load():
        return spark.read.format("olive").option("pushdown", "true").load(str(d))

    import pytest as _pytest

    with _pytest.raises(Exception):
        load().collect()  # poison is real: decoding part-1 fails

    # k04 lives in part-0; part-1's range k01..k19 contains it, so only
    # its BLOOM can prove absence — the query succeeds iff bloom pruned
    got = load().filter("h = 'k04'").collect()
    assert [(r["doc"], r["h"]) for r in got] == [(4, "k04")]

    # absent-everywhere keys inside both ranges: every file bloom-prunes
    assert load().filter("h in ('k04x', 'k11z')").collect() == []


def test_manifest_pruning_beats_header_opens_under_get_latency(
    spark, tmp_path_factory, monkeypatch
):
    """Object-store-shaped plan-time measurement (BASELINE.md row): with
    a simulated per-open GET latency, pruning a selective filter over an
    N-file directory must cost ~1 read (the manifest) instead of N
    header opens.  This is the manifest's design case — at 10-50 ms per
    GET a 10k-file table plans in one latency instead of minutes."""
    import time

    from pyspark.sql import functions as F

    import olive_spark.format.manifest as mf
    from olive_spark.datasource import olive_datasource as ds

    path = str(tmp_path_factory.mktemp("latdir") / "t")
    n_files = 100
    (
        spark.range(10_000).withColumn("x", F.col("id"))
        .repartition(n_files)
        .write.format("olive").mode("append").save(path)
    )
    assert len([f for f in os.listdir(path) if f.endswith(".olive")]) == n_files

    LAT = 0.01  # simulated object-store GET
    opens = {"headers": 0, "manifest": 0}
    real_read = ds._read_header_bytes
    real_load = mf.load_manifest

    def slow_read(fp):
        opens["headers"] += 1
        time.sleep(LAT)
        return real_read(fp)

    def slow_load(d):
        opens["manifest"] += 1
        time.sleep(LAT)
        return real_load(d)

    monkeypatch.setattr(ds, "_read_header_bytes", slow_read)
    monkeypatch.setattr(mf, "load_manifest", slow_load)

    def plan_time() -> float:
        r = ds.OliveReader({"path": path}, None)
        r.predicates = [("x", "=", -1)]  # disproved by every file's stats
        t0 = time.perf_counter()
        parts = r.partitions()
        dt = time.perf_counter() - t0
        assert len(parts) == 1  # fully pruned -> one empty-scan partition
        return dt

    with_manifest = plan_time()
    assert opens["manifest"] == 1 and opens["headers"] == 0, opens

    # sabotage the manifest: every file falls back to a header open
    os.rename(mf.manifest_path(path), mf.manifest_path(path) + ".bak")
    opens["headers"] = 0
    without_manifest = plan_time()
    assert opens["headers"] == n_files, opens

    ratio = without_manifest / with_manifest
    assert ratio > 10, (with_manifest, without_manifest)
    print(f"\nplan-time {n_files} files @ {LAT*1000:.0f}ms GET: "
          f"manifest {with_manifest:.3f}s vs headers {without_manifest:.3f}s "
          f"({ratio:.0f}x)")


def test_table_checksum_order_invariant_value_sensitive(spark):
    """The migration-parity checksum must be identical across row
    order / partitioning / layout, and must change when any single
    value changes."""
    from olive_spark.ops.maintenance import table_checksum

    rows = [(i, f"name{i}") for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "name"])
    base = table_checksum(df, ["id", "name"]).collect()[0]
    assert base["n_rows"] == 500

    shuffled = df.repartition(13).sortWithinPartitions("name")
    again = table_checksum(shuffled, ["id", "name"]).collect()[0]
    assert (again["n_rows"], again["checksum"]) == (base["n_rows"], base["checksum"])

    import pyspark.sql.functions as F

    mutated = df.withColumn(
        "name", F.when(F.col("id") == 250, "NAMEX").otherwise(F.col("name"))
    )
    diff = table_checksum(mutated, ["id", "name"]).collect()[0]
    assert diff["checksum"] != base["checksum"]


def test_sql_ddl_temp_view_surface(spark, tmp_path):
    """The SQL surface: CREATE TEMPORARY VIEW … USING olive OPTIONS
    (path …) forwards options through Spark's Python-DS flow (catalog
    CREATE TABLE does NOT in this Spark version — its scan arrives
    with empty options; the reader's error says so).  file: URIs from
    DDL resolution are normalized."""
    path = str(tmp_path / "t")
    spark.range(7).selectExpr("id AS k", "id * 2 AS v") \
        .write.format("olive").mode("append").save(path)
    spark.sql(
        f"CREATE TEMPORARY VIEW olive_ddl_v USING olive "
        f"OPTIONS (path '{path}')"
    )
    try:
        got = spark.sql(
            "SELECT COUNT(*) AS n, SUM(v) AS s FROM olive_ddl_v"
        ).first()
        assert (got["n"], got["s"]) == (7, 42)
        # file:-prefixed path (what catalog DDL hands schema()) works
        df = spark.read.format("olive").load("file:" + path)
        assert df.count() == 7
    finally:
        spark.catalog.dropTempView("olive_ddl_v")


def test_sortby_write_time_clustering(spark, tmp_path):
    """.option("sortBy", col): every chunk lands sorted on the column,
    so the per-page stats grid prunes point lookups to ~1 page where an
    unsorted write leaves the value smeared across every page."""
    from olive_spark.datasource.olive_datasource import (
        _list_chunk_files,
        _pick_table,
        _read_header_bytes,
    )
    from olive_spark.format.reader import select_pages

    df = spark.range(100_000).selectExpr(
        "cast(hash(id) % 1000 as long) AS v", "id AS k"
    ).coalesce(1)

    def pages_for(path, val):
        total = hit = 0
        for fp in _list_chunk_files(path):
            header, _ = _read_header_bytes(fp)
            th = _pick_table(header, "data")
            sel = select_pages(th, [("v", "=", val)])
            n_pages = len(th.fields[0].stats["min"])
            total += n_pages
            hit += n_pages if sel is None else len(sel)
        return hit, total

    unsorted = str(tmp_path / "u")
    df.write.format("olive").option("pageRows", "4096") \
        .mode("append").save(unsorted)
    clustered = str(tmp_path / "c")
    df.write.format("olive").option("pageRows", "4096") \
        .option("sortBy", "v").mode("append").save(clustered)

    # identical content
    a = sorted(tuple(r) for r in spark.read.format("olive").load(unsorted).collect())
    b = sorted(tuple(r) for r in spark.read.format("olive").load(clustered).collect())
    assert a == b

    hit_u, total = pages_for(unsorted, 123)
    hit_c, total_c = pages_for(clustered, 123)
    assert total == total_c and total >= 20
    assert hit_u == total, "hash-smeared values should defeat pruning"
    assert hit_c <= 2, f"clustered write should pin the value to ~1 page, got {hit_c}"

    # unknown sort column fails at plan time
    import pytest as _pytest

    with _pytest.raises(Exception, match="sortBy"):
        df.write.format("olive").option("sortBy", "nope") \
            .mode("append").save(str(tmp_path / "x"))


def test_compact_zorder_within_partition_dirs(spark, tmp_path):
    """r9: z-order compaction on a PARTITIONED table clusters WITHIN
    each dir (Delta OPTIMIZE ZORDER shape): layout + directory pruning
    survive, and inside every dir a narrow range on either z column
    excludes some of that dir's files by min/max stats."""
    import os as _os

    from olive_spark.datasource.olive_datasource import (
        _list_chunk_files,
        _read_header_bytes,
    )
    from olive_spark.ops.maintenance import compact

    n = 32
    df = spark.range(2 * n * n).selectExpr(
        f"cast(id % 2 as int) AS grp",
        f"cast((id div 2) % {n} as long) AS x",
        f"cast((id div 2) div {n} as long) AS y",
    )
    d = str(tmp_path / "zp")
    df.repartition(2, "grp").write.format("olive") \
        .option("partitionBy", "grp").mode("append").save(d)
    compact(spark, d, target_rows=128, zorder_by=["x", "y"])

    # layout preserved: every live file inside a grp= dir
    files = _list_chunk_files(d)
    assert files and all(
        "grp=" in _os.path.relpath(f, d).split(_os.sep)[0] for f in files
    )
    # per dir: both axes prune on file stats
    for g in (0, 1):
        sub = [f for f in files if f"grp={g}" in f]
        assert len(sub) >= 4, sub

        def span(col):
            out = []
            for fp in sub:
                header, _ = _read_header_bytes(fp)
                th = header.tables[0]
                st = th.fields[th.field_names.index(col)].stats
                out.append((min(st["min"]), max(st["max"])))
            return out

        for col in ("x", "y"):
            spans = span(col)
            hit = sum(1 for lo, hi in spans if lo <= n // 8)
            assert hit <= len(spans) // 2 + 1, (g, col, spans)
    back = spark.read.format("olive").load(d)
    assert back.count() == 2 * n * n


def test_cached_relation_invalidates_on_any_write(spark, tmp_path):
    """ops/relcache (r12): persisted-index serves reuse lazy DSv2
    relations to dodge the fixed per-relation plan tax, keyed by the
    directory's snapshot VERSION — a Python-DSv2 relation freezes its
    file list at load, so serving one across a write would silently
    miss data.  Same version → same object; any append → new key, new
    relation, new rows visible."""
    from olive_spark.ops.relcache import cached_relation

    t = str(tmp_path / "t")
    spark.range(5).write.format("olive").mode("append").save(t)
    r1 = cached_relation(spark, t)
    assert r1.count() == 5
    assert cached_relation(spark, t) is r1          # memo hit
    spark.range(5, 12).write.format("olive").mode("append").save(t)
    r2 = cached_relation(spark, t)
    assert r2 is not r1                              # version bumped
    assert r2.count() == 12
    # option-bearing variants key separately
    r3 = cached_relation(spark, t, options={"pushdown": "true"})
    assert r3 is not r2 and r3.count() == 12


def test_compact_curve_validation_precedes_any_scan(spark, tmp_path):
    """VERDICT r14 'what's wrong' #1: a bad ``curve`` argument (unknown
    name, or hilbert with ≠2 columns) must fail in compact's early
    argument validation — BEFORE the full-table count — so a typo'd
    zorder request on a 100 TB table costs nothing.  The chunk files
    are poisoned after the table is built: any code path that scans
    them would raise an olive read error, so getting the plain
    ValueError proves no chunk was read."""
    import glob
    import os

    import pytest

    from olive_spark.ops.maintenance import compact

    path = str(tmp_path / "t")
    spark.range(100).selectExpr("id AS a", "id * 2 AS b", "id * 3 AS c") \
        .coalesce(1).write.format("olive").mode("append").save(path)
    for f in glob.glob(os.path.join(path, "*.olive")):
        with open(f, "wb") as fh:
            fh.write(b"poisoned: not an olive chunk")
    with pytest.raises(ValueError, match="unknown clustering curve"):
        compact(spark, path, zorder_by=["a", "b"], curve="zigzag")
    with pytest.raises(ValueError, match="exactly 2 columns"):
        compact(spark, path, zorder_by=["a", "b", "c"], curve="hilbert")
