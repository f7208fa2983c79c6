"""MERGE/upsert + DELETE on snapshot-logged olive tables: copy-on-write
file rewrite, single-version commits, time travel to the pre-mutation
state, and the fileColumn provenance option they build on."""

from __future__ import annotations

import os

import pytest


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


def _mk_table(spark, path, n=1000, files=4):
    """n rows (k, v, grp) split across `files` chunk files."""
    df = spark.range(n).selectExpr(
        "id AS k", "id * 10 AS v", "cast(id % 7 as int) AS grp"
    )
    (
        df.repartition(files)
        .write.format("olive")
        .option("chunkRows", max(1, n // files))
        .mode("append")
        .save(path)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_updates_and_inserts(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=1000, files=4)
    src = spark.range(990, 1010).selectExpr(
        "id AS k", "id * 100 AS v", "cast(99 as int) AS grp"
    )
    sc = spark.sparkContext
    sc.setJobGroup("merge_budget", "merge_budget")
    try:
        out = merge_upsert(spark, path, src, ["k"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # one validation aggregate, one fused key-join pass that discovers
    # AND stages the DVs, one write: a plain upsert stays within budget
    jobs = sc.statusTracker().getJobIdsForGroup("merge_budget")
    assert len(jobs) <= 8, jobs
    # auto strategy: a 10-key merge may land as deletion vectors
    # (merge-on-read) instead of rewrites — either way files changed
    assert out["files_rewritten"] + out["files_dv"] >= 1
    got = spark.read.format("olive").load(path)
    expected = sorted(
        [(k, k * 10, k % 7) for k in range(990)]
        + [(k, k * 100, 99) for k in range(990, 1010)]
    )
    assert _rows(got) == expected


def test_merge_rewrites_only_affected_files(spark, tmp_path):
    from olive_spark.datasource.olive_datasource import _list_chunk_files
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=1000, files=4)
    before = {os.path.basename(f) for f in _list_chunk_files(path)}
    # source touches a handful of keys — they live in a subset of files
    src = spark.range(0, 5).selectExpr(
        "id AS k", "cast(-1 as long) AS v", "cast(0 as int) AS grp"
    )
    out = merge_upsert(spark, path, src, ["k"])
    after = {os.path.basename(f) for f in _list_chunk_files(path)}
    untouched = before & after
    assert out["files_rewritten"] == len(before) - len(untouched)
    assert out["files_rewritten"] < len(before), (
        "a 5-key merge must not rewrite every file (copy-on-write)"
    )
    assert spark.read.format("olive").load(path).count() == 1000


def _write_ranges(spark, path, ranges):
    """One chunk file per (lo, hi) key range, rows (k, k*10, k%7);
    returns the files' relative names in range order."""
    from olive_spark.datasource.olive_datasource import _list_chunk_files

    rels = []
    for lo, hi in ranges:
        before = set(_list_chunk_files(path)) if os.path.isdir(path) else set()
        (
            spark.range(lo, hi)
            .selectExpr("id AS k", "id * 10 AS v", "cast(id % 7 as int) AS grp")
            .coalesce(1).write.format("olive").mode("append").save(path)
        )
        (new,) = set(_list_chunk_files(path)) - before
        rels.append(os.path.relpath(new, path))
    return rels


def _dv_names(path):
    """{file rel: [dv file names]} of the table's live DV sidecars."""
    from olive_spark.format import deletion as D

    return {f: sorted(n) for f, n in D.list_dvs(path).items()}


def test_merge_shuffled_key_join_mixes_dv_and_rewrite(spark, tmp_path):
    """The fused key-join merge with the key side NOT broadcast (the
    matched positions are repartitioned by file): duplicate target keys
    all die, a heavily-hit file rewrites next to lightly-hit DV'd files
    (one DV each), an unhit file stays untouched, and the table equals
    a plain-Python replay.  A second merge with strategy="rewrite"
    rewrites instead of masking."""
    from olive_spark.datasource.olive_datasource import _list_chunk_files
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    f0, f1, f2, f3 = _write_ranges(
        spark, path, [(0, 250), (250, 500), (500, 750), (750, 1000)]
    )
    # a fifth file holding DUPLICATES of keys 5 and 300
    spark.createDataFrame([(5, -5, 0), (300, -300, 0)], "k long, v long, grp int") \
        .coalesce(1).write.format("olive").mode("append").save(path)
    state = [(k, k * 10, k % 7) for k in range(1000)] + [(5, -5, 0), (300, -300, 0)]

    def replay(src_rows):
        keys = {r[0] for r in src_rows}
        return [r for r in state if r[0] not in keys] + list(src_rows)

    src_rows = (
        [(k, k + 1, 1) for k in range(100)]           # 40% of f0: rewrite
        + [(k, k + 1, 1) for k in range(300, 305)]     # 2% of f1: DV
        + [(k, k + 1, 1) for k in range(750, 753)]     # f3: DV
        + [(k, k + 1, 1) for k in range(2000, 2010)]   # inserts
    )
    src = spark.createDataFrame(src_rows, "k long, v long, grp int")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = merge_upsert(spark, path, src, ["k"], dv_threshold=0.1)
    finally:
        spark.conf.set(key, prior)
    state = replay(src_rows)
    assert _rows(spark.read.format("olive").load(path)) == sorted(state)
    assert out["files_rewritten"] == 2 and out["files_dv"] == 2, out
    dvs = _dv_names(path)
    assert sorted(dvs) == sorted([f1, f3]) and all(
        len(n) == 1 for n in dvs.values()
    ), dvs
    live = set(os.path.relpath(f, path) for f in _list_chunk_files(path))
    assert {f1, f2, f3} <= live and f0 not in live
    # rows in the DV'd files (245 + 247) + everything written (150 + 118)
    assert out["rows_after_in_rewritten"] == 760

    src_rows = [(k, 0, 2) for k in range(600, 603)]
    out = merge_upsert(
        spark, path, spark.createDataFrame(src_rows, "k long, v long, grp int"),
        ["k"], strategy="rewrite",
    )
    state = replay(src_rows)
    assert out["files_rewritten"] == 1 and out["files_dv"] == 0, out
    assert _rows(spark.read.format("olive").load(path)) == sorted(state)
    assert sorted(_dv_names(path)) == sorted([f1, f3])


def test_live_rows_ignores_stale_manifest_entries(spark, tmp_path):
    """Merge/delete/update size their rewrite output from
    _live_rows_local: a manifest entry whose recorded size no longer
    matches the file must never size anything (the header decides),
    unknowable files yield None (the caller counts), and a merge over
    such a table keeps every survivor."""
    from olive_spark.format.manifest import load_manifest, merge_manifest
    from olive_spark.ops.maintenance import _live_rows_local, merge_upsert

    path = str(tmp_path / "t")
    _write_ranges(spark, path, [(0, 50), (50, 100)])
    man = load_manifest(path)
    rels = sorted(man)
    merge_manifest(path, {
        r: {**man[r], "rows": 0, "size": man[r]["size"] + 1} for r in rels
    })
    assert _live_rows_local(path, rels, "data") == 100
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "x.olive").write_bytes(b"not an olive file")
    assert _live_rows_local(str(bad), ["x.olive"], "data") is None
    # 30 of 50 rows die: the rewrite-classed file's 20 survivors must be
    # written although its manifest entry claims 0 rows
    src = spark.range(0, 30).selectExpr(
        "id AS k", "cast(-1 as long) AS v", "cast(0 as int) AS grp"
    )
    out = merge_upsert(spark, path, src, ["k"])
    assert out["files_rewritten"] == 1, out
    assert out["rows_after_in_rewritten"] == 50
    assert _rows(spark.read.format("olive").load(path)) == sorted(
        [(k, -1, 0) for k in range(30)]
        + [(k, k * 10, k % 7) for k in range(30, 100)]
    )


def test_merge_is_one_version_and_time_travel_sees_pre_merge(spark, tmp_path):
    from olive_spark.format.snapshots import current_version
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=200, files=2)
    pre = _rows(spark.read.format("olive").load(path))
    v0 = current_version(path)
    src = spark.range(100, 300).selectExpr(
        "id AS k", "cast(0 as long) AS v", "cast(1 as int) AS grp"
    )
    out = merge_upsert(spark, path, src, ["k"])
    assert out["version"] == v0 + 1, "whole merge is ONE snapshot version"
    assert out["pre_version"] == v0
    old = spark.read.format("olive").option("snapshot", str(v0)).load(path)
    assert _rows(old) == pre, "pre-merge snapshot must be byte-equal"


def test_merge_pure_insert_appends(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=2)
    src = spark.range(1000, 1010).selectExpr(
        "id AS k", "id AS v", "cast(3 as int) AS grp"
    )
    out = merge_upsert(spark, path, src, ["k"])
    assert out["inserted_only"] is True
    assert out["files_rewritten"] == 0
    assert spark.read.format("olive").load(path).count() == 110


def test_merge_duplicate_source_keys_raise(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=50, files=1)
    src = spark.createDataFrame(
        [(1, 5, 0), (1, 6, 0)], "k long, v long, grp int"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, path, src, ["k"])


def test_merge_missing_source_column_raises(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=50, files=1)
    src = spark.range(5).selectExpr("id AS k", "id AS v")  # no grp
    with pytest.raises(ValueError, match="missing table columns"):
        merge_upsert(spark, path, src, ["k"])


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    from olive_spark.datasource.olive_datasource import _list_chunk_files
    from olive_spark.ops.maintenance import delete_where

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=1000, files=4)
    before = {os.path.basename(f) for f in _list_chunk_files(path)}
    out = delete_where(spark, path, "k >= 990")
    after = {os.path.basename(f) for f in _list_chunk_files(path)}
    assert out["rows_deleted"] == 10
    assert out["files_rewritten"] < len(before)
    assert before & after, "files without matches keep their bytes"
    got = spark.read.format("olive").load(path)
    assert _rows(got) == sorted((k, k * 10, k % 7) for k in range(990))


def test_delete_no_match_is_noop(spark, tmp_path):
    from olive_spark.datasource.olive_datasource import _list_chunk_files
    from olive_spark.format.snapshots import current_version
    from olive_spark.ops.maintenance import delete_where

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=2)
    v0 = current_version(path)
    files0 = _list_chunk_files(path)
    out = delete_where(spark, path, "k > 100000")
    assert out["rows_deleted"] == 0
    assert out["version"] == v0, "no version bump on a no-op delete"
    assert _list_chunk_files(path) == files0


def test_delete_time_travel_and_null_condition_keeps_row(spark, tmp_path):
    from olive_spark.ops.maintenance import delete_where

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, v long"
    )
    df.coalesce(1).write.format("olive").mode("append").save(path)
    out = delete_where(spark, path, "v > 15")
    # SQL DELETE: NULL condition keeps the row (only v=30 deleted)
    got = _rows(spark.read.format("olive").load(path))
    assert got == [(1, 10), (2, None)]
    old = spark.read.format("olive").option(
        "snapshot", str(out["pre_version"])
    ).load(path)
    assert sorted(r[0] for r in old.collect()) == [1, 2, 3]


def test_delete_everything_leaves_schema_bearing_empty_table(spark, tmp_path):
    from olive_spark.ops.maintenance import delete_where

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=60, files=2)
    out = delete_where(spark, path, "k >= 0")
    assert out["rows_deleted"] == 60
    got = spark.read.format("olive").load(path)
    assert got.count() == 0
    assert got.columns == ["k", "v", "grp"]


def test_merge_checksum_parity_with_recomputed_table(spark, tmp_path):
    """table_checksum proves the merged table equals a from-scratch
    rewrite of the same logical content (the migration-parity check the
    r7 verdict asked to reuse as the MERGE proof)."""
    from olive_spark.ops.maintenance import merge_upsert, table_checksum

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=500, files=3)
    src = spark.range(250, 600).selectExpr(
        "id AS k", "id + 1 AS v", "cast(5 as int) AS grp"
    )
    merge_upsert(spark, path, src, ["k"])
    merged = spark.read.format("olive").load(path)
    expected = spark.range(600).selectExpr(
        "id AS k",
        "CASE WHEN id >= 250 THEN id + 1 ELSE id * 10 END AS v",
        "CASE WHEN id >= 250 THEN 5 ELSE cast(id % 7 as int) END AS grp",
    )
    a = table_checksum(merged, ["k", "v", "grp"]).collect()[0]
    b = table_checksum(expected, ["k", "v", "grp"]).collect()[0]
    assert (a["n_rows"], a["checksum"]) == (b["n_rows"], b["checksum"])


def test_file_column_option_reports_per_row_provenance(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=2)
    df = spark.read.format("olive").option("fileColumn", "_f").load(path)
    per_file = {r["_f"]: r["cnt"] for r in
                df.groupBy("_f").count().withColumnRenamed("count", "cnt").collect()}
    assert sum(per_file.values()) == 100
    assert all(f.endswith(".olive") for f in per_file)
    assert len(per_file) >= 2


def test_rewrite_on_logless_table_seeds_full_pre_state(spark, tmp_path):
    """r8 review finding: a table that predates snapshot tracking (raw
    write_chunk files, no log) must get its base seeded from the
    PRE-rewrite listing — seeding at append_entry time (after the
    originals were retired) would record a base that silently omits the
    replaced files, i.e. time travel to v1 would return a partial
    table."""
    import pyarrow as pa

    from olive_spark.format.writer import write_chunk
    from olive_spark.ops.maintenance import delete_where

    path = str(tmp_path / "raw")
    os.makedirs(path)
    for i in range(3):  # three files, no snapshot log anywhere
        t = pa.table({"k": list(range(i * 10, i * 10 + 10))})
        with open(os.path.join(path, f"part-{i:05d}.olive"), "wb") as f:
            f.write(write_chunk({"data": t}))

    out = delete_where(spark, path, "k % 2 = 0")
    assert out["rows_deleted"] == 15 and out["files_rewritten"] == 3

    # current state: odds only
    assert sorted(
        r["k"] for r in spark.read.format("olive").load(path).collect()
    ) == [k for k in range(30) if k % 2]
    # time travel to the seeded base: the FULL pre-delete table
    v1 = spark.read.format("olive").option("snapshot", "1").load(path)
    assert sorted(r["k"] for r in v1.collect()) == list(range(30))


def test_merge_rejects_type_mismatch_and_surplus_columns(spark, tmp_path):
    """Silent casts corrupt replaced rows to NULL under non-ANSI
    defaults; surplus source columns must not vanish silently."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=2)
    bad_type = spark.range(5).selectExpr(
        "id AS k", "cast(id AS string) AS v", "cast(0 as int) AS grp"
    )
    with pytest.raises(ValueError, match="types differ"):
        merge_upsert(spark, path, bad_type, ["k"])
    surplus = spark.range(5).selectExpr(
        "id AS k", "id * 10 AS v", "cast(0 as int) AS grp", "id AS extra"
    )
    with pytest.raises(ValueError, match="not in the table"):
        merge_upsert(spark, path, surplus, ["k"])


def test_merge_pure_insert_reports_added_files_only(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=4)
    src = spark.range(1000, 1005).selectExpr(
        "id AS k", "id * 10 AS v", "cast(1 as int) AS grp"
    )
    out = merge_upsert(spark, path, src, ["k"])
    assert out["inserted_only"] is True
    assert out["files_rewritten"] == 0
    assert 1 <= out["files_added"] <= 4, out  # the NEW files, not the table total


def test_merge_latest_wins_resolution(spark, tmp_path):
    """latest_by: per key the greatest sequence wins across existing +
    source (tie prefers source); duplicate source keys resolve by
    sequence; duplicate (key, seq) rejected."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, 5, f"base{k}") for k in range(6)], ["k", "seq", "val"]
    )
    base.repartition(2).write.format("olive").mode("append").save(path)

    src = spark.createDataFrame(
        [(3, 7, "newer"), (3, 6, "older-dup"),  # dup key: seq 7 wins
         (4, 3, "stale"),                       # loses to existing seq 5
         (5, 5, "tie"),                         # tie: source wins
         (99, 1, "insert")],
        ["k", "seq", "val"],
    )
    merge_upsert(spark, path, src, ["k"], latest_by="seq")
    got = {r["k"]: (r["seq"], r["val"])
           for r in spark.read.format("olive").load(path).collect()}
    assert got[3] == (7, "newer")
    assert got[4] == (5, "base4")
    assert got[5] == (5, "tie")
    assert got[99] == (1, "insert")
    assert got[0] == (5, "base0") and len(got) == 7

    with pytest.raises(ValueError, match="nondeterministic"):
        dup = spark.createDataFrame([(1, 9, "a"), (1, 9, "b")],
                                    ["k", "seq", "val"])
        merge_upsert(spark, path, dup, ["k"], latest_by="seq")


def test_merge_latest_wins_batch_boundary_independence(spark, tmp_path):
    """The CDC contract: applying the same change rows in ANY batch
    split/order converges to the identical table — what makes the
    streaming foreachBatch upsert oracle-checkable."""
    from olive_spark.ops.maintenance import merge_upsert

    changes = [(k, s, f"v{k}-{s}") for k in range(8) for s in (1, 4, 9)]
    import random
    rng = random.Random(42)

    finals = []
    for split in range(3):
        path = str(tmp_path / f"t{split}")
        spark.createDataFrame(
            [(k, 0, f"base{k}") for k in range(4)], ["k", "seq", "val"]
        ).write.format("olive").mode("append").save(path)
        rows = changes[:]
        rng.shuffle(rows)
        cut1, cut2 = sorted((rng.randrange(1, len(rows)),
                             rng.randrange(1, len(rows))))
        batches = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]
        for b in batches:
            if b:
                merge_upsert(
                    spark, path,
                    spark.createDataFrame(b, ["k", "seq", "val"]),
                    ["k"], latest_by="seq",
                )
        finals.append(_rows(spark.read.format("olive").load(path)))
    assert finals[0] == finals[1] == finals[2]
    assert (0, 9, "v0-9") in finals[0]  # max seq won everywhere


def test_merge_latest_wins_preserves_bystander_duplicates(spark, tmp_path):
    """r8 second-review finding: ranking must collapse only keys the
    SOURCE touches — duplicate-key rows that share an affected file but
    were never mentioned by the merge must survive intact."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    rows = [(3, 1, "target-old"), (7, 1, "dup-a"), (7, 2, "dup-b")]
    spark.createDataFrame(rows, ["k", "seq", "val"]).coalesce(1) \
        .write.format("olive").mode("append").save(path)  # ONE shared file

    src = spark.createDataFrame([(3, 5, "newer")], ["k", "seq", "val"])
    out = merge_upsert(spark, path, src, ["k"], latest_by="seq")
    assert out["files_rewritten"] == 1
    got = _rows(spark.read.format("olive").load(path))
    assert got == [(3, 5, "newer"), (7, 1, "dup-a"), (7, 2, "dup-b")]


def test_merge_latest_wins_stale_batch_is_noop(spark, tmp_path):
    """An all-stale replayed batch must not rewrite anything — no new
    files, no new snapshot version."""
    from olive_spark.format.snapshots import current_version
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, 9, f"v{k}") for k in range(5)], ["k", "seq", "val"]
    ).write.format("olive").mode("append").save(path)
    v = current_version(path)

    stale = spark.createDataFrame(
        [(1, 2, "old"), (3, 5, "older")], ["k", "seq", "val"]
    )
    out = merge_upsert(spark, path, stale, ["k"], latest_by="seq")
    assert out == {
        "files_rewritten": 0, "files_added": 0,
        "rows_after_in_rewritten": 0, "inserted_only": True,
        "version": v, "pre_version": v,
    }
    got = {r["k"]: r["val"] for r in spark.read.format("olive").load(path).collect()}
    assert got == {k: f"v{k}" for k in range(5)}


def test_merge_rejects_null_keys_and_sequences(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=20, files=1)
    null_seq = spark.createDataFrame(
        [(1, None, 0)], "k long, v long, grp int"
    ).selectExpr("k", "v", "grp")
    # latest_by=v with a NULL sequence: loud, not a bogus duplicate error
    with pytest.raises(ValueError, match="NULL"):
        merge_upsert(spark, path, null_seq, ["k"], latest_by="v")
    null_key = spark.createDataFrame([(None, 5, 0)], "k long, v long, grp int")
    with pytest.raises(ValueError, match="NULL"):
        merge_upsert(spark, path, null_key, ["k"])


def test_rewrites_preserve_hive_partition_layout(spark, tmp_path):
    """merge/delete/compact on a hive-partitioned table must keep every
    rewritten (and inserted) file INSIDE its col=value directory — the
    r8 gap where copy-on-write flattened rewritten rows to the table
    root, silently losing =/IN directory pruning — and time travel to
    the pre-mutation version must still be exact."""
    from olive_spark.ops.maintenance import (
        compact, delete_where, merge_upsert,
    )

    path = str(tmp_path / "t")
    df = spark.range(400).selectExpr(
        "id AS k", "id * 10 AS v", "cast(id % 4 as int) AS grp"
    )
    df.repartition(4, "grp").write.format("olive") \
        .option("partitionBy", "grp").mode("append").save(path)

    def layout_ok():
        import glob as g
        files = [f for f in g.glob(os.path.join(path, "**", "*.olive"),
                                   recursive=True)
                 if "_olive_history" not in f]
        assert files
        bad = [f for f in files
               if "grp=" not in os.path.relpath(f, path).split(os.sep)[0]]
        assert not bad, bad

    src = spark.createDataFrame(
        [(k, k * 100, k % 4) for k in range(390, 410)],
        "k long, v long, grp int",
    )
    # strategy="rewrite": this test verifies the REWRITE path keeps
    # the hive layout (the DV path never moves files at all)
    out = merge_upsert(spark, path, src, ["k"], strategy="rewrite")
    assert out["files_rewritten"] >= 1
    layout_ok()

    out = delete_where(spark, path, "k % 2 = 1", mode="rewrite")
    assert out["rows_deleted"] > 0
    layout_ok()

    compact(spark, path, target_rows=1000)
    layout_ok()

    got = _rows(spark.read.format("olive").load(path))
    expect = sorted(
        [(k, k * 10, k % 4) for k in range(390) if k % 2 == 0]
        + [(k, k * 100, k % 4) for k in range(390, 410) if k % 2 == 0]
    )
    assert got == expect
    # pre-merge snapshot (v1) still reads the original 400 rows exactly
    v1 = spark.read.format("olive").option("snapshot", "1").load(path)
    assert _rows(v1) == sorted((k, k * 10, k % 4) for k in range(400))

    # zorder on a partitioned table clusters WITHIN each dir (r9 —
    # previously refused): layout must survive and content stay exact
    compact(spark, path, zorder_by=["k", "v"], target_rows=1000)
    layout_ok()
    assert _rows(spark.read.format("olive").load(path)) == expect


def test_delete_everything_keeps_table_scannable(spark, tmp_path):
    """Deleting every row must not leave an empty unreadable directory:
    the zero-row schema sentinel is kept exactly (and only) for the
    wipe-the-whole-table case."""
    from olive_spark.ops.maintenance import delete_where

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=50, files=2)
    out = delete_where(spark, path, "k >= 0")
    assert out["rows_deleted"] == 50
    got = spark.read.format("olive").load(path)
    assert got.count() == 0
    assert got.columns == ["k", "v", "grp"]


def test_delete_emptying_one_partition_writes_no_root_sentinel(spark, tmp_path):
    """A delete that wipes some files (but not the table) must be a
    remove-only rewrite — no zero-row sentinel planted at the table
    root of a hive layout."""
    import glob as g

    from olive_spark.ops.maintenance import delete_where

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "id AS k", "id * 10 AS v", "cast(id % 2 as int) AS grp"
    )
    df.repartition(2, "grp").write.format("olive") \
        .option("partitionBy", "grp").mode("append").save(path)
    out = delete_where(spark, path, "grp = 1")
    assert out["rows_deleted"] == 50 and out["files_added"] == 0
    live = [os.path.relpath(f, path)
            for f in g.glob(os.path.join(path, "**", "*.olive"), recursive=True)
            if "_olive_history" not in f]
    assert live and all(r.startswith("grp=0") for r in live), live
    assert sorted(r["k"] for r in
                  spark.read.format("olive").load(path).collect()) \
        == [k for k in range(100) if k % 2 == 0]


def test_recover_completes_remove_only_manifest_and_seeds_log(spark, tmp_path):
    """Crash recovery for the two r8 rewrite refinements: an 'empty'
    (remove-only) manifest must be COMPLETED by recovery (the
    no-replacements loss-guard exempts it — zero replacements IS its
    correct completion), and recovery on a log-less table must seed the
    snapshot base from the reconstructed PRE-rewrite file set, not the
    post-retirement listing."""
    import json as _json

    import pyarrow as pa

    from olive_spark.format.snapshots import files_at
    from olive_spark.ops.maintenance import snapshot_history
    from olive_spark.format.writer import write_chunk
    from olive_spark.ops.maintenance import _recover_pending

    path = str(tmp_path / "raw")
    os.makedirs(path)
    for i in range(3):  # log-less table: three raw chunk files
        t = pa.table({"k": list(range(i * 10, i * 10 + 10))})
        with open(os.path.join(path, f"part-{i:05d}.olive"), "wb") as f:
            f.write(write_chunk({"data": t}))

    # simulate a delete that wiped part-00001 entirely, crashed right
    # after writing its remove-only manifest (before retirement)
    man = {"run": "deadbeef", "originals": ["part-00001.olive"],
           "finals": [], "history": True, "empty": True}
    with open(os.path.join(path, "compact-deadbeef.manifest.json"), "w") as f:
        f.write(_json.dumps(man))

    out = _recover_pending(path)
    assert out["manifests_completed"] == 1
    assert out["originals_deleted"] == 1
    # live table lost exactly that file's rows
    got = sorted(r["k"] for r in spark.read.format("olive").load(path).collect())
    assert got == [k for k in range(30) if not 10 <= k < 20]
    # the seeded base covers the FULL pre-rewrite set (incl. the
    # retired original), so v1 time travel is complete
    assert sorted(os.path.basename(f) for f in files_at(path, 1)) == [
        "part-00000.olive", "part-00001.olive", "part-00002.olive"]
    kinds = [h["kind"] for h in snapshot_history(path)]
    assert kinds[0] == "seed-base", kinds


def test_wipe_all_on_partitioned_table_keeps_layout_detectable(spark, tmp_path):
    """r8 third-review repro: wiping a partitioned table parked the
    zero-row sentinel at the ROOT, so _detect_partition_cols saw a
    mixed layout forever and every later rewrite silently flattened.
    The sentinel must live under the hive null-partition chain, and a
    re-append + merge must stay partitioned."""
    import glob as g

    from olive_spark.ops.maintenance import (
        _detect_partition_cols, delete_where, merge_upsert,
    )

    path = str(tmp_path / "t")
    df = spark.range(40).selectExpr(
        "id AS k", "id * 10 AS v", "cast(id % 2 as int) AS grp"
    )
    df.repartition(2, "grp").write.format("olive") \
        .option("partitionBy", "grp").mode("append").save(path)

    out = delete_where(spark, path, "k >= 0")  # wipe everything
    assert out["rows_deleted"] == 40
    assert spark.read.format("olive").load(path).count() == 0
    live = [os.path.relpath(f, path)
            for f in g.glob(os.path.join(path, "**", "*.olive"), recursive=True)
            if "_olive_history" not in f]
    assert all(os.sep in r and r.split(os.sep)[0].startswith("grp=")
               for r in live), live
    assert _detect_partition_cols(path) == ["grp"]

    df.repartition(2, "grp").write.format("olive") \
        .option("partitionBy", "grp").mode("append").save(path)
    src = spark.createDataFrame([(1, 999, 1)], "k long, v long, grp int")
    merge_upsert(spark, path, src, ["k"])
    live = [os.path.relpath(f, path)
            for f in g.glob(os.path.join(path, "**", "*.olive"), recursive=True)
            if "_olive_history" not in f and "_olive_dv" not in f
            and os.path.isfile(f)]
    assert all("grp=" in r.split(os.sep)[0] for r in live), live
    got = {r["k"]: r["v"] for r in spark.read.format("olive").load(path).collect()}
    assert got[1] == 999 and got[0] == 0 and len(got) == 40


def test_merge_tombstones_unconditional(spark, tmp_path):
    """delete_col without latest_by: matched tombstones remove the row,
    unmatched tombstones are no-ops (never inserts), upserts in the
    same batch apply normally; the flag must be boolean and must not
    collide with a table column."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=20, files=2)
    src = spark.createDataFrame(
        [(3, 0, 0, True),        # matched tombstone -> row 3 gone
         (500, 0, 0, True),      # unmatched tombstone -> no-op
         (5, 555, 0, False),     # plain update
         (600, 606, 0, False)],  # plain insert
        "k long, v long, grp int, _deleted boolean",
    )
    merge_upsert(spark, path, src, ["k"], delete_col="_deleted")
    got = {r["k"]: r["v"] for r in spark.read.format("olive").load(path).collect()}
    assert 3 not in got and 500 not in got
    assert got[5] == 555 and got[600] == 606
    assert len(got) == 20  # 20 - 1 deleted + 1 inserted
    # an all-tombstone batch lands nothing: its deletes commit alone
    gone = spark.createDataFrame(
        [(7, 0, 0, True), (9, 0, 0, True), (700, 0, 0, True)],
        "k long, v long, grp int, _deleted boolean",
    )
    out = merge_upsert(spark, path, gone, ["k"], delete_col="_deleted")
    assert out["files_added"] == 0 and out["files_dv"] >= 1, out
    got = {r["k"] for r in spark.read.format("olive").load(path).collect()}
    assert len(got) == 18 and not got & {3, 7, 9, 500, 700}

    with pytest.raises(ValueError, match="must be boolean"):
        bad = spark.createDataFrame([(1, 1, 0, 1)],
                                    "k long, v long, grp int, _deleted long")
        merge_upsert(spark, path, bad, ["k"], delete_col="_deleted")
    with pytest.raises(ValueError, match="table column"):
        merge_upsert(spark, path, src.drop("_deleted"), ["k"], delete_col="v")


def test_merge_tombstones_latest_wins_sequenced(spark, tmp_path):
    """delete_col + latest_by: the tombstone is a sequenced change —
    it deletes only when it WINS the per-key resolution, and the final
    state stays batch-boundary independent."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t0")
    spark.createDataFrame(
        [(k, 5, f"base{k}") for k in range(6)], ["k", "seq", "val"]
    ).write.format("olive").mode("append").save(path)

    src = spark.createDataFrame(
        [(1, 9, "x", True),    # winning tombstone -> key 1 deleted
         (2, 3, "x", True),    # stale tombstone -> key 2 survives
         (3, 7, "upd", False),
         (4, 8, "x", True), (4, 9, "resurrect", False)],  # delete then re-add
        "k long, seq long, val string, _deleted boolean",
    )
    merge_upsert(spark, path, src, ["k"], latest_by="seq",
                 delete_col="_deleted")
    got = {r["k"]: (r["seq"], r["val"])
           for r in spark.read.format("olive").load(path).collect()}
    assert 1 not in got
    assert got[2] == (5, "base2")
    assert got[3] == (7, "upd")
    assert got[4] == (9, "resurrect")
    assert got[0] == (5, "base0") and len(got) == 5

    # batch-boundary independence with tombstones in the mix
    import random
    rng = random.Random(7)
    rows = [(k, s, f"v{k}-{s}", (k + s) % 3 == 0)
            for k in range(6) for s in (1, 4, 9)]
    finals = []
    for split in range(3):
        p2 = str(tmp_path / f"t{split + 1}")
        spark.createDataFrame(
            [(k, 0, f"base{k}") for k in range(6)], ["k", "seq", "val"]
        ).write.format("olive").mode("append").save(p2)
        shuffled = rows[:]
        rng.shuffle(shuffled)
        cut = rng.randrange(1, len(shuffled))
        for b in (shuffled[:cut], shuffled[cut:]):
            merge_upsert(
                spark, p2,
                spark.createDataFrame(
                    b, "k long, seq long, val string, _deleted boolean"),
                ["k"], latest_by="seq", delete_col="_deleted",
            )
        finals.append(_rows(spark.read.format("olive").load(p2)))
    assert finals[0] == finals[1] == finals[2]
    # per-key ground truth: max seq is 9; key deleted iff (k+9)%3==0
    for k in range(6):
        present = any(r[0] == k for r in finals[0])
        assert present == ((k + 9) % 3 != 0), (k, finals[0])


def test_merge_cdc_model_random_histories(spark, tmp_path):
    """Model-based check (the snapshot log has one; the CDC surface
    deserves one too): random histories of sequenced CDC batches
    (upserts + tombstones), predicate deletes, and compactions applied
    to BOTH the olive table and an in-memory dict model that encodes
    the documented semantics — per key the batch's max-seq change wins
    against the stored row (ties to the batch) and against the
    retained tombstone floor (strictly above resurrects); predicate
    deletes remove rows without flooring; compaction changes nothing.
    Any divergence at any step is a semantics bug."""
    import random

    from olive_spark.ops.maintenance import (
        compact, delete_where, merge_upsert,
    )

    for seed in (11, 23):
        rng = random.Random(seed)
        path = str(tmp_path / f"m{seed}")
        base = [(k, 0, f"b{k}") for k in range(8)]
        spark.createDataFrame(base, ["k", "seq", "val"]).repartition(2) \
            .write.format("olive").mode("append").save(path)
        model = {k: (s, v) for k, s, v in base}
        floor: dict[int, int] = {}

        for step in range(6):
            op = rng.choice(["cdc", "cdc", "cdc", "delete", "compact"])
            if op == "cdc":
                seen = set()
                rows = []
                for _ in range(rng.randrange(1, 7)):
                    k = rng.randrange(0, 12)
                    s = rng.randrange(1, 20)
                    if (k, s) in seen:
                        continue
                    seen.add((k, s))
                    rows.append((k, s, f"v{k}-{s}", rng.random() < 0.3))
                if not rows:
                    continue
                merge_upsert(
                    spark, path,
                    spark.createDataFrame(
                        rows, "k long, seq long, val string, _d boolean"),
                    ["k"], latest_by="seq", delete_col="_d",
                )
                best: dict[int, tuple] = {}
                for k, s, v, d in rows:
                    if k not in best or s > best[k][0]:
                        best[k] = (s, v, d)
                for k, (s, v, d) in best.items():
                    stored = model.get(k)
                    wins = (stored is not None and s >= stored[0]) or (
                        stored is None and s > floor.get(k, -1)
                    )
                    if not wins:
                        continue
                    if d:
                        model.pop(k, None)
                        floor[k] = s
                    else:
                        model[k] = (s, v)
            elif op == "delete":
                m, r = rng.choice([(2, 0), (3, 1), (5, 2)])
                delete_where(spark, path, f"k % {m} = {r}")
                for k in [k for k in model if k % m == r]:
                    model.pop(k)
            else:
                compact(spark, path, target_rows=50)

            got = {r["k"]: (r["seq"], r["val"])
                   for r in spark.read.format("olive").load(path).collect()}
            assert got == model, (seed, step, op, got, model)


def test_tombstone_floor_applies_to_delete_free_merges(spark, tmp_path):
    """Fourth-review finding: once a key is deleted (floor retained),
    a later sequenced merge WITHOUT delete_col carrying a stale update
    must still be pruned — gating the floor on the current batch's
    delete_col would let any delete-free replay batch resurrect the
    key.  A genuinely newer update still lands."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, 5, f"b{k}") for k in range(4)], ["k", "seq", "val"]
    ).write.format("olive").mode("append").save(path)

    merge_upsert(
        spark, path,
        spark.createDataFrame([(1, 10, "x", True)],
                              "k long, seq long, val string, _d boolean"),
        ["k"], latest_by="seq", delete_col="_d",
    )
    # stale update in a delete-free batch: must NOT resurrect
    merge_upsert(
        spark, path,
        spark.createDataFrame([(1, 7, "stale")], ["k", "seq", "val"]),
        ["k"], latest_by="seq",
    )
    ks = {r["k"] for r in spark.read.format("olive").load(path).collect()}
    assert 1 not in ks
    # genuinely newer update in a delete-free batch: resurrects
    merge_upsert(
        spark, path,
        spark.createDataFrame([(1, 11, "fresh")], ["k", "seq", "val"]),
        ["k"], latest_by="seq",
    )
    got = {r["k"]: (r["seq"], r["val"])
           for r in spark.read.format("olive").load(path).collect()}
    assert got[1] == (11, "fresh")


def test_tombstone_sidecar_compacts_and_floors_survive(spark, tmp_path, monkeypatch):
    """The sidecar must stay bounded for long-lived streams: past the
    fragment threshold it rewrites into per-key maxima — and every
    floor must survive the compaction (a lost floor = resurrection)."""
    import glob as g

    from olive_spark.ops import maintenance
    from olive_spark.ops.maintenance import merge_upsert

    monkeypatch.setattr(maintenance, "_TOMBSTONE_COMPACT_THRESHOLD", 3)
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, 0, f"b{k}") for k in range(8)], ["k", "seq", "val"]
    ).write.format("olive").mode("append").save(path)

    for i, k in enumerate((0, 1, 2, 3, 4, 5)):  # six delete batches
        merge_upsert(
            spark, path,
            spark.createDataFrame([(k, 10 + i, "x", True)],
                                  "k long, seq long, val string, _d boolean"),
            ["k"], latest_by="seq", delete_col="_d",
        )
    tdir = os.path.join(path, "_olive_tombstones")
    frags = g.glob(os.path.join(tdir, "**", "*.olive"), recursive=True)
    assert len(frags) <= 4, frags  # compacted, not 6 fragments
    # every floor survives: stale updates for all six keys stay dead
    stale = spark.createDataFrame(
        [(k, 9, "stale") for k in range(6)], ["k", "seq", "val"]
    )
    merge_upsert(spark, path, stale, ["k"], latest_by="seq")
    ks = sorted(r["k"] for r in spark.read.format("olive").load(path).collect())
    assert ks == [6, 7], ks


def test_merge_update_condition_per_row(spark, tmp_path):
    """WHEN MATCHED AND <cond> THEN UPDATE: matched rows replace only
    where the t/s predicate holds; matched-but-false source rows are
    DROPPED (matched rows never insert); unmatched rows insert."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=2)  # (k, v=k*10, grp=k%7)
    # source: keys 90..109; v = 1500 — for matched keys the condition
    # s.v > t.v holds only when 1500 > k*10, i.e. k < 150 (all matched
    # keys) ... use a mixed threshold instead: v = k*10 for even k
    # (never greater -> keep target), 9999 for odd k (replace)
    src = spark.range(90, 110).selectExpr(
        "id AS k",
        "CASE WHEN id % 2 = 0 THEN id * 10 ELSE 9999 END AS v",
        "cast(55 as int) AS grp",
    )
    out = merge_upsert(
        spark, path, src, ["k"], update_condition="s.v > t.v"
    )
    assert out["inserted_only"] is False
    got = _rows(spark.read.format("olive").load(path))
    expected = sorted(
        [(k, k * 10, k % 7) for k in range(0, 100) if k % 2 == 0]      # kept (matched, cond false) + untouched
        + [(k, k * 10, k % 7) for k in range(0, 90) if k % 2 == 1]     # untouched odds below 90
        + [(k, 9999, 55) for k in range(90, 100) if k % 2 == 1]        # replaced
        + [(k, k * 10 if k % 2 == 0 else 9999, 55) for k in range(100, 110)]  # inserts (unmatched, land regardless)
    )
    assert got == expected


def test_merge_update_condition_null_keeps_target_and_excludes_cdc(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=20, files=1)
    src = spark.range(5).selectExpr(
        "id AS k", "cast(NULL as bigint) AS v", "cast(1 as int) AS grp"
    )
    # s.v is NULL -> condition NULL -> keep target (SQL WHEN MATCHED AND)
    merge_upsert(spark, path, src, ["k"], update_condition="s.v > t.v")
    got = _rows(spark.read.format("olive").load(path))
    assert got == sorted((k, k * 10, k % 7) for k in range(20))
    with pytest.raises(ValueError, match="mutually exclusive"):
        merge_upsert(spark, path, src, ["k"],
                     update_condition="s.v > t.v", latest_by="v")
    with pytest.raises(ValueError, match="non-empty"):
        merge_upsert(spark, path, src, ["k"], update_condition="  ")


def test_merge_evolve_schema_adds_column(spark, tmp_path):
    """evolve_schema=True: surplus source columns become table columns;
    untouched files are NOT rewritten and null-fill on read; the schema
    sidecar makes the DEFAULT scan see the union regardless of file
    listing order."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=4)
    src = spark.range(96, 104).selectExpr(
        "id AS k", "id * 100 AS v", "cast(9 as int) AS grp",
        "concat('tag', id) AS label",
    )
    out = merge_upsert(spark, path, src, ["k"], evolve_schema=True)
    # copy-on-write held: ≤ the affected subset mutated (rewrite or
    # merge-on-read DV), never the whole table
    assert 1 <= out["files_rewritten"] + out["files_dv"] < 4
    df = spark.read.format("olive").load(path)  # default scan, no mergeSchema
    assert df.columns == ["k", "v", "grp", "label"]
    rows = {r["k"]: (r["v"], r["grp"], r["label"]) for r in df.collect()}
    assert rows[0] == (0, 0, None)              # untouched file, null-filled
    assert rows[100] == (10000, 9, "tag100")    # insert carries the new col
    assert rows[96] == (9600, 9, "tag96")       # update carries the new col
    # column pruning + filters still work on the evolved column
    sub = (
        spark.read.format("olive").option("columns", "k,label").load(path)
        .filter("label = 'tag97'")
    )
    assert [tuple(r) for r in sub.collect()] == [(97, "tag97")]


def test_merge_evolve_pure_insert_and_time_travel(spark, tmp_path):
    """Insert-only evolution still records the sidecar; time travel to
    the pre-evolution snapshot reads old data THROUGH the new schema
    (new column all-NULL) — latest-schema-wins."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=10, files=1)
    src = spark.range(100, 103).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp", "id * 2 AS w"
    )
    out = merge_upsert(spark, path, src, ["k"], evolve_schema=True)
    assert out["inserted_only"] is True
    df = spark.read.format("olive").load(path)
    assert df.columns == ["k", "v", "grp", "w"]
    assert df.filter("w IS NOT NULL").count() == 3
    old = spark.read.format("olive").option("snapshot", "1").load(path)
    assert old.columns == ["k", "v", "grp", "w"]
    assert old.count() == 10 and old.filter("w IS NOT NULL").count() == 0


def test_merge_without_evolve_still_rejects_surplus(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=10, files=1)
    src = spark.range(3).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp", "id AS extra"
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        merge_upsert(spark, path, src, ["k"])
    with pytest.raises(ValueError, match="reserved"):
        bad = src.withColumnRenamed("extra", "_olive_x")
        merge_upsert(spark, path, bad, ["k"], evolve_schema=True)


def test_evolve_sidecar_lands_before_data(spark, tmp_path, monkeypatch):
    """Crash ordering: the evolved schema sidecar must be committed
    BEFORE the rewrite lands, so a crash in between leaves a declared
    (null-filled, visible) column — never committed evolved files whose
    column silently vanishes behind an older file's header."""
    from olive_spark.ops import maintenance
    from olive_spark.format.table_schema import read_table_schema

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=50, files=2)
    src = spark.range(40, 45).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp", "id * 3 AS w"
    )

    def boom(*a, **kw):  # noqa: ANN002, ANN003
        raise RuntimeError("crash before swap")

    monkeypatch.setattr(maintenance, "_rewrite_and_swap", boom)
    with pytest.raises(RuntimeError, match="crash before swap"):
        maintenance.merge_upsert(spark, path, src, ["k"], evolve_schema=True)
    side = read_table_schema(path, "data")
    assert side is not None and side[0] == ["k", "v", "grp", "w"]
    df = spark.read.format("olive").load(path)  # table still readable
    assert df.columns == ["k", "v", "grp", "w"]
    assert df.count() == 50 and df.filter("w IS NOT NULL").count() == 0


def test_overwrite_drops_stale_schema_sidecar(spark, tmp_path):
    """mode('overwrite') must not leave the old evolved schema pinned:
    a stale sidecar would make every post-overwrite default scan show
    the OLD columns, all NULL."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=20, files=1)
    src = spark.range(5).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp", "id AS lbl"
    )
    merge_upsert(spark, path, src, ["k"], evolve_schema=True)
    assert spark.read.format("olive").load(path).columns == \
        ["k", "v", "grp", "lbl"]
    spark.range(3).selectExpr("id AS a", "id * 2 AS b") \
        .write.format("olive").mode("overwrite").save(path)
    df = spark.read.format("olive").load(path)
    assert df.columns == ["a", "b"]
    assert df.count() == 3


def test_single_file_scan_unaffected_by_sidecar_probe(spark, tmp_path):
    """Single-FILE loads (path is a chunk file, not a directory) must
    not die probing path/_olive_schema.json (NotADirectoryError)."""
    import glob

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=10, files=1)
    f = glob.glob(os.path.join(path, "*.olive"))[0]
    df = spark.read.format("olive").load(f)
    assert df.count() == 10 and df.columns == ["k", "v", "grp"]


def test_corrupt_sidecar_fails_loud_on_read_and_write(spark, tmp_path):
    from olive_spark.format.errors import ValidationError
    from olive_spark.format.table_schema import (
        read_table_schema, write_table_schema, sidecar_path,
    )

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=10, files=1)
    with open(sidecar_path(path), "w") as f:
        f.write("{ not json")
    with pytest.raises(ValidationError, match="corrupt schema sidecar"):
        read_table_schema(path, "data")
    # an evolving write must not replace it wholesale (other tables'
    # entries would be silently dropped) — fail loud instead
    with pytest.raises(ValidationError, match="delete it explicitly"):
        write_table_schema(path, "data", ["k"], [{"t": "i64"}])


def test_evolve_rejects_merge_internal_namespace(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=10, files=1)
    src = spark.range(3).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp", "id AS __del"
    )
    with pytest.raises(ValueError, match="reserved"):
        merge_upsert(spark, path, src, ["k"], evolve_schema=True)


def test_overwrite_drops_stale_tombstone_floors(spark, tmp_path):
    """mode('overwrite') starts a NEW table: retained tombstone floors
    from the wiped one must not silently drop the fresh table's
    sequenced merge rows."""
    import os

    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    base = spark.range(10).selectExpr("id AS k", "id AS v", "id AS seq")
    base.write.format("olive").mode("append").save(path)
    tomb = spark.range(5).selectExpr(
        "id AS k", "id AS v", "id + 1000 AS seq", "true AS _deleted"
    )
    merge_upsert(spark, path, tomb, ["k"], latest_by="seq",
                 delete_col="_deleted")
    assert os.path.isdir(os.path.join(path, "_olive_tombstones"))
    # fresh table in the same directory
    base.write.format("olive").mode("overwrite").save(path)
    assert not os.path.isdir(os.path.join(path, "_olive_tombstones"))
    resurrect = spark.range(5).selectExpr(
        "id AS k", "id * 7 AS v", "id + 100 AS seq"  # below old floors
    )
    merge_upsert(spark, path, resurrect, ["k"], latest_by="seq")
    got = spark.read.format("olive").load(path).filter("k < 5")
    assert {r["v"] for r in got.collect()} == {0, 7, 14, 21, 28}


def test_plain_append_extends_evolved_sidecar(spark, tmp_path):
    """After evolution, a PLAIN writer append carrying yet another new
    column must extend the sidecar — otherwise the schema authority
    hides committed data from every default scan."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=20, files=1)
    src = spark.range(3).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp", "id AS w1"
    )
    merge_upsert(spark, path, src, ["k"], evolve_schema=True)
    spark.range(100, 103).selectExpr(
        "id AS k", "id AS v", "cast(2 as int) AS grp",
        "id AS w1", "id * 2 AS w2",
    ).write.format("olive").mode("append").save(path)
    df = spark.read.format("olive").load(path)
    assert df.columns == ["k", "v", "grp", "w1", "w2"]
    assert df.filter("w2 IS NOT NULL").count() == 3
    # a table with NO sidecar keeps first-file-header semantics
    path2 = str(tmp_path / "t2")
    _mk_table(spark, path2, n=10, files=1)
    spark.range(5).selectExpr("id AS k", "id AS v", "cast(1 as int) AS grp",
                              "id AS extra") \
        .write.format("olive").mode("append").save(path2)
    assert spark.read.format("olive").load(path2).columns == ["k", "v", "grp"]


def test_merge_delete_condition_leg(spark, tmp_path):
    """WHEN MATCHED AND <cond> THEN DELETE: matched rows where the
    delete predicate holds vanish; the rest fall through to the update
    leg (conditional or unconditional); consumed source rows never
    insert; unmatched rows still insert."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=2)  # (k, v=k*10, grp=k%7)
    src = spark.range(90, 105).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp"
    )
    # delete matched rows with even k; replace the odd ones; insert 100+
    merge_upsert(spark, path, src, ["k"], delete_condition="t.k % 2 = 0")
    got = _rows(spark.read.format("olive").load(path))
    expected = sorted(
        [(k, k * 10, k % 7) for k in range(90)]
        + [(k, k, 1) for k in range(90, 100) if k % 2 == 1]   # replaced
        + [(k, k, 1) for k in range(100, 105)]                # inserted
    )
    assert got == expected

    # composition: delete leg first, then conditional update
    path2 = str(tmp_path / "t2")
    _mk_table(spark, path2, n=50, files=1)
    src2 = spark.range(40, 50).selectExpr(
        "id AS k", "CASE WHEN id % 3 = 0 THEN 9999 ELSE id END AS v",
        "cast(2 as int) AS grp",
    )
    merge_upsert(
        spark, path2, src2, ["k"],
        delete_condition="t.k % 2 = 0",
        update_condition="s.v > t.v",
    )
    got2 = _rows(spark.read.format("olive").load(path2))
    expected2 = sorted(
        [(k, k * 10, k % 7) for k in range(40)]
        + [(k, 9999, 2) for k in range(40, 50) if k % 2 == 1 and k % 3 == 0]
        + [(k, k * 10, k % 7) for k in range(40, 50)
           if k % 2 == 1 and k % 3 != 0]  # kept: update cond false
    )
    assert got2 == expected2
    with pytest.raises(ValueError, match="mutually exclusive"):
        merge_upsert(spark, path2, src2, ["k"],
                     delete_condition="t.k % 2 = 0", latest_by="v")


def test_update_where_basic_and_simultaneous(spark, tmp_path):
    """Predicate UPDATE: matched rows transform with ALL SET
    expressions reading the ORIGINAL row (simultaneous assignment —
    the k/v swap proves it), unmatched rows byte-pass-through, and
    untouched files are not rewritten."""
    from olive_spark.datasource.olive_datasource import _list_chunk_files
    from olive_spark.ops.maintenance import update_where

    path = str(tmp_path / "t")
    # range-cluster so the predicate hits a file subset
    spark.range(1000).selectExpr(
        "id AS k", "id * 10 AS v", "cast(id % 7 as int) AS grp"
    ).repartitionByRange(4, "k").sortWithinPartitions("k") \
        .write.format("olive").option("chunkRows", 250) \
        .mode("append").save(path)
    before_files = set(_list_chunk_files(path))

    st = update_where(
        spark, path, {"v": "v + 1000", "grp": "cast(grp + 1 as int)"},
        "k < 100",
    )
    assert st["rows_updated"] == 100
    assert st["files_rewritten"] == 1, st
    kept = before_files & set(_list_chunk_files(path))
    assert len(kept) == 3, "untouched files must keep their bytes"

    got = _rows(spark.read.format("olive").load(path))
    want = sorted(
        (k, k * 10 + (1000 if k < 100 else 0),
         k % 7 + (1 if k < 100 else 0))
        for k in range(1000)
    )
    assert got == want

    # simultaneous swap: a <- b, b <- a
    st = update_where(
        spark, path, {"k": "v", "v": "k"}, "k >= 990",
    )
    assert st["rows_updated"] == 10
    df = spark.read.format("olive").load(path)
    assert df.filter("k = 9950 AND v = 995").count() == 1

    # time travel: v1 is the original table
    orig = spark.read.format("olive").option("snapshot", "1").load(path)
    assert orig.filter("v >= 1000 AND k < 100").count() == 0


def test_update_where_null_condition_and_types(spark, tmp_path):
    from olive_spark.ops.maintenance import update_where

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k long, v double"
    ).write.format("olive").mode("append").save(path)
    # NULL condition (v > 15 is NULL for k=2) keeps the row unchanged
    st = update_where(spark, path, {"v": "v * 2"}, "v > 15")
    assert st["rows_updated"] == 1
    got = _rows(spark.read.format("olive").load(path))
    assert got == [(1, 10.0), (2, None), (3, 60.0)]

    with pytest.raises(ValueError, match="cast explicitly"):
        update_where(spark, path, {"v": "'text'"}, "k = 1")
    with pytest.raises(ValueError, match="not in table"):
        update_where(spark, path, {"zz": "1"}, "k = 1")


def test_update_where_moves_rows_across_partitions(spark, tmp_path):
    """Updating a hive partition column must MOVE the row into its new
    col=value directory (and directory pruning keeps working)."""
    import os

    from olive_spark.ops.maintenance import update_where

    path = str(tmp_path / "p")
    spark.range(90).selectExpr(
        "id AS k", "concat('s', cast(id % 3 as string)) AS part"
    ).write.format("olive").option("partitionBy", "part") \
        .mode("append").save(path)
    st = update_where(
        spark, path, {"part": "'s9'"}, "part = 's0' AND k < 9",
    )
    assert st["rows_updated"] == 3
    df = spark.read.format("olive").load(path)
    assert df.filter("part = 's9'").count() == 3
    assert df.count() == 90
    assert os.path.isdir(os.path.join(path, "part=s9"))
    moved = sorted(
        r["k"] for r in df.filter("part = 's9'").collect()
    )
    assert moved == [0, 3, 6]


def test_facade_update_where(spark, tmp_path):
    from olive_spark import OliveTable

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=2)
    t = OliveTable(spark, path)
    st = t.update_where({"v": "v + 5"}, "k % 2 = 0")
    assert st["rows_updated"] == 50
    assert t.df().filter("k = 0 AND v = 5").count() == 1


def test_drop_column_hides_everywhere(spark, tmp_path):
    """DROP COLUMN: metadata-only — the column leaves default scans,
    snapshot reads, and mergeSchema unions; appends without it work;
    re-introducing the name (append AND evolving merge) is a FRESH
    column id (r11 column mapping) — old values never resurface;
    partition columns and the last column are refused."""
    from olive_spark.format.errors import ValidationError
    from olive_spark.ops.maintenance import drop_column, merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=2)
    out = drop_column(path, "v")
    assert out == {"dropped": "v", "columns": ["k", "grp"]}

    got = spark.read.format("olive").load(path)
    assert got.columns == ["k", "grp"] and got.count() == 100
    # snapshot read: latest-schema-wins, dropped column hidden there too
    tt = spark.read.format("olive").option("snapshot", "1").load(path)
    assert tt.columns == ["k", "grp"]
    # mergeSchema=true must NOT resurrect it out of old headers
    ms = spark.read.format("olive").option("mergeSchema", "true").load(path)
    assert ms.columns == ["k", "grp"]

    # appends without the column keep working
    spark.range(100, 110).selectExpr(
        "id AS k", "cast(id % 7 as int) AS grp"
    ).write.format("olive").mode("append").save(path)
    assert spark.read.format("olive").load(path).count() == 110

    # re-introduction is a FRESH column id, never a resurrection:
    # a plain append carrying the dropped name evolves the schema...
    spark.range(200, 205).selectExpr(
        "id AS k", "id AS v", "cast(0 as int) AS grp"
    ).write.format("olive").mode("append").save(path)
    got = spark.read.format("olive").load(path)
    assert "v" in got.columns
    # pre-drop rows read NULL v (old data bound to the retired id);
    # the appended rows carry their new values
    assert got.filter("k < 100 AND v IS NOT NULL").count() == 0
    assert got.filter("k >= 200 AND v = k").count() == 5
    # ...and so does a schema-evolving merge re-adding another name
    drop_column(path, "v")
    src = spark.range(3).selectExpr(
        "id AS k", "cast(1 as int) AS grp", "id + 1000 AS v"
    )
    merge_upsert(spark, path, src, ["k"], evolve_schema=True)
    got = spark.read.format("olive").load(path)
    assert got.filter("k = 1 AND v = 1001").count() == 1
    assert got.filter("k >= 200 AND v IS NOT NULL").count() == 0

    # guards
    with pytest.raises(ValidationError, match="not a column"):
        drop_column(path, "nope")
    drop_column(path, "v")
    drop_column(path, "grp")
    with pytest.raises(ValidationError, match="only column"):
        drop_column(path, "k")


def test_drop_column_refuses_partition_column(spark, tmp_path):
    from olive_spark.format.errors import ValidationError
    from olive_spark.ops.maintenance import drop_column

    path = str(tmp_path / "p")
    spark.range(60).selectExpr(
        "id AS k", "cast(id % 3 as int) AS part"
    ).write.format("olive").option("partitionBy", "part") \
        .mode("append").save(path)
    with pytest.raises(ValidationError, match="partition column"):
        drop_column(path, "part")


def test_drop_column_facade_and_overwrite_resets(spark, tmp_path):
    from olive_spark import OliveTable

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=50, files=2)
    t = OliveTable(spark, path)
    t.drop_column("v")
    assert t.df().columns == ["k", "grp"]
    # overwrite resets the table AND its tombstones: v is writable again
    spark.range(5).selectExpr("id AS k", "id AS v").write.format("olive") \
        .mode("overwrite").save(path)
    assert sorted(t.df().columns) == ["k", "v"]


def test_compact_if_needed_triggers_on_small_file_buildup(spark, tmp_path):
    from olive_spark.ops.maintenance import compact_if_needed

    path = str(tmp_path / "t")
    # 20 tiny files (one per append)
    for i in range(20):
        spark.range(i * 10, i * 10 + 10).selectExpr("id AS k") \
            .coalesce(1).write.format("olive").mode("append").save(path)
    out = compact_if_needed(spark, path, min_small_files=16)
    assert out["compacted"] is True and out["small_files"] == 20
    assert out["files_after"] < out["files_before"]
    assert spark.read.format("olive").load(path).count() == 200
    # now under threshold: no-op, no Spark job
    out2 = compact_if_needed(spark, path, min_small_files=16)
    assert out2 == {"compacted": False,
                    "small_files": out2["small_files"],
                    "files": out2["files"]}
    assert out2["files"] < 16


def test_corrupt_sidecar_keeps_tombstone_guard_armed(spark, tmp_path):
    """A corrupt schema sidecar must fail appends loud, not silently
    return 'no tombstones' and let a dropped column resurrect."""
    import os

    from olive_spark.ops.maintenance import drop_column

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=50, files=2)
    drop_column(path, "v")
    with open(os.path.join(path, "_olive_schema.json"), "w") as f:
        f.write("{broken")
    with pytest.raises(Exception, match="sidecar"):
        spark.range(5).selectExpr(
            "id AS k", "id AS v", "cast(0 as int) AS grp"
        ).write.format("olive").mode("append").save(path)


def test_compact_if_needed_noop_on_empty_dir(spark, tmp_path):
    import os

    from olive_spark.ops.maintenance import compact_if_needed

    path = str(tmp_path / "empty")
    os.makedirs(path)
    out = compact_if_needed(spark, path)
    assert out["compacted"] is False and out["files"] == 0


def test_merge_not_matched_by_source_delete(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE — full-snapshot sync:
    after the three-clause merge the table equals the source snapshot
    exactly (matched update, unmatched-source insert, unmatched-target
    delete)."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=1000, files=4)
    # the new full snapshot: keys 0..499 (values bumped), plus 2000..2004
    src = spark.range(0, 500).selectExpr(
        "id AS k", "id * 100 AS v", "cast(id % 7 as int) AS grp"
    ).unionByName(spark.range(2000, 2005).selectExpr(
        "id AS k", "id AS v", "cast(0 as int) AS grp"
    ))
    out = merge_upsert(
        spark, path, src, ["k"], not_matched_by_source_delete=True,
    )
    assert out["files_rewritten"] + out["files_dv"] >= 1
    got = _rows(spark.read.format("olive").load(path))
    expect = sorted(
        [(k, k * 100, k % 7) for k in range(500)]
        + [(k, k, 0) for k in range(2000, 2005)]
    )
    assert got == expect
    # one version; time travel to the pre-sync state is exact
    old = spark.read.format("olive").option(
        "snapshot", str(out["pre_version"])).load(path)
    assert old.count() == 1000


def test_merge_nmbs_conditional_and_dv(spark, tmp_path):
    """Conditional NMBS delete: only unmatched target rows passing the
    condition die; a small dying set lands as deletion vectors."""
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=1000, files=2)
    # source matches everything except keys 990..999; condition kills
    # only the even unmatched ones
    src = spark.range(0, 990).selectExpr(
        "id AS k", "id * 10 AS v", "cast(id % 7 as int) AS grp"
    )
    out = merge_upsert(
        spark, path, src, ["k"],
        update_condition="s.v > t.v",  # never true: v identical
        not_matched_by_source_delete=True,
        not_matched_by_source_condition="k % 2 = 0",
    )
    # nothing matched-changed, only 5 unmatched evens die -> DV path
    assert out["files_dv"] >= 1 and out["files_rewritten"] == 0, out
    got = spark.read.format("olive").load(path)
    assert got.count() == 995
    assert got.filter("k IN (990, 992, 994, 996, 998)").count() == 0
    assert got.filter("k IN (991, 993, 995, 997, 999)").count() == 5


def test_merge_nmbs_empty_source_wipes(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=50, files=1)
    src = spark.range(0).selectExpr(
        "id AS k", "id AS v", "cast(0 as int) AS grp"
    )
    out = merge_upsert(
        spark, path, src, ["k"], not_matched_by_source_delete=True,
    )
    assert spark.read.format("olive").load(path).count() == 0
    assert out["files_rewritten"] == 1


def test_merge_nmbs_validation(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=10, files=1)
    src = spark.range(0, 2).selectExpr(
        "id AS k", "id AS v", "cast(0 as int) AS grp",
        "cast(1 as long) AS seq"
    )
    with pytest.raises(ValueError, match="requires"):
        merge_upsert(spark, path, src.drop("seq"), ["k"],
                     not_matched_by_source_condition="k > 5")
    with pytest.raises(ValueError, match="mutually exclusive"):
        merge_upsert(spark, path, src, ["k"], latest_by="seq",
                     not_matched_by_source_delete=True)


def test_replace_where_partition_swap(spark, tmp_path):
    """replaceWhere: re-materialize one partition as ONE commit —
    replaced rows gone, new rows in, other partitions byte-untouched,
    time travel to the pre-replace state exact."""
    import glob as g

    from olive_spark.ops.maintenance import replace_where

    path = str(tmp_path / "t")
    df = spark.range(400).selectExpr(
        "id AS k", "id * 10 AS v", "cast(id % 4 as int) AS grp"
    )
    df.repartition(4, "grp").write.format("olive") \
        .option("partitionBy", "grp").mode("append").save(path)
    untouched_before = {
        f: os.path.getsize(f)
        for f in g.glob(os.path.join(path, "grp=2", "*.olive"))
    }
    new = spark.range(1000, 1050).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp"
    )
    out = replace_where(spark, path, new, "grp = 1")
    assert out["files_replaced"] >= 1 and out["rows_replaced"] == 100
    assert out["rows_written"] == 50
    got = spark.read.format("olive").load(path)
    assert got.count() == 350
    assert got.filter("grp = 1").count() == 50
    assert got.filter("grp = 1 AND k < 1000").count() == 0
    # other partitions: identical files, identical bytes
    assert {
        f: os.path.getsize(f)
        for f in g.glob(os.path.join(path, "grp=2", "*.olive"))
    } == untouched_before
    # one version; pre-replace snapshot exact
    old = spark.read.format("olive").option(
        "snapshot", str(out["pre_version"])).load(path)
    assert old.count() == 400
    # new files landed INSIDE grp=1 (layout preserved)
    live = [os.path.relpath(f, path)
            for f in g.glob(os.path.join(path, "**", "*.olive"),
                            recursive=True)
            if "_olive_history" not in f and os.path.isfile(f)]
    assert all(r.split(os.sep)[0].startswith("grp=") for r in live), live


def test_replace_where_refuses_nonaligned_predicate(spark, tmp_path):
    from olive_spark.format.errors import ValidationError
    from olive_spark.ops.maintenance import replace_where

    path = str(tmp_path / "t")
    _mk_table(spark, path, n=100, files=1)  # one file, mixed keys
    new = spark.range(0, 5).selectExpr(
        "id AS k", "id AS v", "cast(0 as int) AS grp"
    )
    with pytest.raises(ValidationError, match="not file-aligned"):
        replace_where(spark, path, new, "k < 5")


def test_replace_where_refuses_out_of_region_source(spark, tmp_path):
    from olive_spark.format.errors import ValidationError
    from olive_spark.ops.maintenance import replace_where

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "id AS k", "id AS v", "cast(id % 2 as int) AS grp"
    )
    df.repartition(2, "grp").write.format("olive") \
        .option("partitionBy", "grp").mode("append").save(path)
    bad = spark.range(0, 4).selectExpr(
        "id AS k", "id AS v", "cast(id % 2 as int) AS grp"  # grp 0 AND 1
    )
    with pytest.raises(ValidationError, match="do not satisfy"):
        replace_where(spark, path, bad, "grp = 1")


def test_replace_where_empty_region_is_append(spark, tmp_path):
    """No stored rows match: replaceWhere degrades to an atomic append
    of the new region."""
    from olive_spark.ops.maintenance import replace_where

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "id AS k", "id AS v", "cast(id % 2 as int) AS grp"
    )
    df.repartition(2, "grp").write.format("olive") \
        .option("partitionBy", "grp").mode("append").save(path)
    new = spark.range(500, 510).selectExpr(
        "id AS k", "id AS v", "cast(7 as int) AS grp"
    )
    out = replace_where(spark, path, new, "grp = 7")
    assert out["files_replaced"] == 0 and out["rows_replaced"] == 0
    got = spark.read.format("olive").load(path)
    assert got.count() == 110 and got.filter("grp = 7").count() == 10


def test_replace_where_empty_source_clears_region(spark, tmp_path):
    from olive_spark.ops.maintenance import replace_where

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "id AS k", "id AS v", "cast(id % 2 as int) AS grp"
    )
    df.repartition(2, "grp").write.format("olive") \
        .option("partitionBy", "grp").mode("append").save(path)
    empty = spark.range(0).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp"
    )
    out = replace_where(spark, path, empty, "grp = 1")
    assert out["rows_replaced"] == 50 and out["rows_written"] == 0
    got = spark.read.format("olive").load(path)
    assert got.count() == 50 and got.filter("grp = 1").count() == 0
