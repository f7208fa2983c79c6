"""Deletion vectors (format/deletion.py + the merge-on-read leg of
ops.maintenance.delete_where): tiny positional sidecars instead of
whole-file rewrites, folded out at scan time, materialized by compact,
versioned by the snapshot log, diffed by the change feed.

The reference format is batch-only with no mutation layer
(/root/reference/src/root.zig:9-16); DVs are this engine's lakehouse
extension — parity target is Delta deletion vectors / Iceberg
positional deletes."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
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


def _mk(spark, path, n=1000, files=2):
    from pyspark.sql import functions as F

    (
        spark.range(n).withColumn("v", F.col("id") * 2)
        .coalesce(files).write.format("olive")
        .option("table", "data").mode("append").save(str(path))
    )


def _scan(spark, path, **opts):
    r = spark.read.format("olive")
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load(str(path))


# ---- file format ------------------------------------------------------


def test_dv_roundtrip_and_header_count(tmp_path):
    from olive_spark.format import deletion as D

    pos = np.array([5, 1, 99, 5, 1_000_000], dtype=np.uint64)
    blob = D.encode_dv(pos)
    fp = tmp_path / "a.dv"
    fp.write_bytes(blob)
    assert D.read_count(str(fp)) == 4  # deduped
    got = D.read_positions(str(fp))
    assert got.tolist() == [1, 5, 99, 1_000_000]


def test_dv_with_target_field_reads_unchanged(tmp_path):
    # DVs written before the header dropped the (directory-implied)
    # target file name still read, table scoping included
    import json
    import struct

    from olive_spark.format import deletion as D
    from olive_spark.format.compression import compress

    head = json.dumps(
        {"target": "part-00000-x.olive", "count": 2, "table": "ta"}
    ).encode()
    payload = compress("zstd", np.array([3, 8], "<u8").tobytes())
    fp = tmp_path / "old.dv"
    fp.write_bytes(b"ODV1" + struct.pack("<I", len(head)) + head + payload)
    assert D.read_count(str(fp)) == 2
    assert D.read_positions(str(fp)).tolist() == [3, 8]
    assert D.dv_applies_to(str(fp), "ta") and not D.dv_applies_to(str(fp), "tb")


def test_dv_hostile_bytes(tmp_path):
    from olive_spark.format import deletion as D
    from olive_spark.format.errors import OliveError

    fp = tmp_path / "bad.dv"
    fp.write_bytes(b"NOTADV")
    with pytest.raises(OliveError):
        D.read_count(str(fp))
    # count/payload mismatch fails loud, never a silent partial mask
    good = D.encode_dv(np.array([1, 2, 3], dtype=np.uint64))
    fp2 = tmp_path / "trunc.dv"
    fp2.write_bytes(good[:-3])
    with pytest.raises(Exception):
        D.read_positions(str(fp2))


# ---- delete_where strategies -----------------------------------------


def test_small_delete_takes_dv_and_moves_no_files(spark, tmp_path):
    from olive_spark.ops.maintenance import delete_where

    path = tmp_path / "t"
    _mk(spark, path)
    before = sorted(glob.glob(str(path / "*.olive")))
    sizes = {f: os.path.getsize(f) for f in before}
    r = delete_where(spark, str(path), "id % 100 = 7")
    assert r["files_dv"] == 2 and r["files_rewritten"] == 0
    assert r["rows_deleted"] == 10
    after = sorted(glob.glob(str(path / "*.olive")))
    assert after == before  # zero data-file churn
    assert all(os.path.getsize(f) == sizes[f] for f in after)
    df = _scan(spark, path)
    assert df.count() == 990
    assert df.filter("id = 7").count() == 0
    assert df.filter("id = 8").count() == 1
    # write cost ∝ deleted rows: the DV sidecars are tiny vs the data
    dv_bytes = sum(
        os.path.getsize(f)
        for f in glob.glob(str(path / "_olive_dv" / "**" / "*.dv"),
                           recursive=True)
    )
    assert 0 < dv_bytes < min(sizes.values()) // 10


def test_large_delete_takes_rewrite(spark, tmp_path):
    from olive_spark.ops.maintenance import delete_where

    path = tmp_path / "t"
    _mk(spark, path)
    r = delete_where(spark, str(path), "id >= 300")
    assert r["files_dv"] == 0 and r["files_rewritten"] >= 1
    assert _scan(spark, path).count() == 300


def test_mode_forced_dv_and_rewrite(spark, tmp_path):
    from olive_spark.ops.maintenance import delete_where

    p1 = tmp_path / "dv"
    _mk(spark, p1)
    r = delete_where(spark, str(p1), "id >= 300", mode="dv")
    assert r["files_dv"] == 2 and r["files_rewritten"] == 0
    assert _scan(spark, p1).count() == 300
    p2 = tmp_path / "rw"
    _mk(spark, p2)
    r2 = delete_where(spark, str(p2), "id % 100 = 7", mode="rewrite")
    assert r2["files_dv"] == 0 and r2["files_rewritten"] == 2
    assert _scan(spark, p2).count() == 990
    assert not os.path.isdir(str(p2 / "_olive_dv"))


def test_successive_dvs_compose(spark, tmp_path):
    from olive_spark.ops.maintenance import count_rows, delete_where

    path = tmp_path / "t"
    _mk(spark, path)
    delete_where(spark, str(path), "id % 100 = 7")
    delete_where(spark, str(path), "id % 100 = 13")
    df = _scan(spark, path)
    assert df.count() == 980
    assert df.filter("id IN (7, 13, 107, 113)").count() == 0
    assert count_rows(str(path)) == 980
    # a second DV on the same file never re-marks already-deleted
    # positions (computed over a folding scan): counts stay exact
    from olive_spark.format import deletion as D

    state = D.list_dvs(str(path))
    total = sum(
        D.read_count(os.path.join(str(path), n))
        for names in state.values() for n in names
    )
    assert total == 20


def test_dv_under_filter_pushdown(spark, tmp_path):
    """Page selection composes with DV folding: positions are raw grid
    indices, so a pruned read still drops exactly the DV'd rows."""
    from olive_spark.ops.maintenance import delete_where

    path = tmp_path / "t"
    (
        spark.range(0, 10000).selectExpr("id", "id * 2 AS v")
        .coalesce(1).write.format("olive")
        .option("pageRows", "1000").mode("append").save(str(path))
    )
    delete_where(spark, str(path), "id = 4500")
    df = _scan(spark, path, pushdown="true").filter("id >= 4000 AND id < 5000")
    assert df.count() == 999
    assert df.filter("id = 4500").count() == 0


# ---- snapshot log / time travel ---------------------------------------


def test_time_travel_across_dv_commits(spark, tmp_path):
    from olive_spark.ops.maintenance import count_rows, delete_where

    path = tmp_path / "t"
    _mk(spark, path)
    delete_where(spark, str(path), "id % 100 = 7")    # v2
    delete_where(spark, str(path), "id % 100 = 13")   # v3
    assert _scan(spark, path, snapshot=1).count() == 1000
    assert _scan(spark, path, snapshot=2).count() == 990
    assert _scan(spark, path, snapshot=3).count() == 980
    assert _scan(spark, path, snapshot=2).filter("id = 7").count() == 0
    assert _scan(spark, path, snapshot=2).filter("id = 13").count() == 1
    assert count_rows(str(path), snapshot=2) == 990


def test_compact_materializes_dvs(spark, tmp_path):
    from olive_spark.ops.maintenance import compact, delete_where

    path = tmp_path / "t"
    _mk(spark, path)
    delete_where(spark, str(path), "id % 100 = 7")   # v2 (DV)
    compact(spark, str(path), target_rows=1000, retain_history=True)
    # live DVs are gone (materialized); scan result unchanged
    assert not glob.glob(
        str(path / "_olive_dv" / "**" / "*.dv"), recursive=True
    )
    assert _scan(spark, path).count() == 990
    # pre-compaction snapshot still folds its DV (from history)
    assert _scan(spark, path, snapshot=2).count() == 990
    assert _scan(spark, path, snapshot=1).count() == 1000


def test_restore_undoes_and_reinstates_dvs(spark, tmp_path):
    from olive_spark.ops.maintenance import delete_where, restore

    path = tmp_path / "t"
    _mk(spark, path)
    delete_where(spark, str(path), "id % 100 = 7")    # v2
    delete_where(spark, str(path), "id % 100 = 13")   # v3
    restore(str(path), 2)                             # v4: undo v3's DV
    assert _scan(spark, path).count() == 990
    assert _scan(spark, path).filter("id = 13").count() == 1
    restore(str(path), 3)                             # v5: re-apply it
    assert _scan(spark, path).count() == 980
    restore(str(path), 1)                             # v6: no DVs at all
    assert _scan(spark, path).count() == 1000
    assert not glob.glob(
        str(path / "_olive_dv" / "**" / "*.dv"), recursive=True
    )


def test_vacuum_expire_keeps_referenced_dvs(spark, tmp_path):
    from olive_spark.ops.maintenance import (
        compact,
        delete_where,
        vacuum,
    )

    path = tmp_path / "t"
    _mk(spark, path)
    delete_where(spark, str(path), "id % 100 = 7")    # v2 (DV)
    compact(spark, str(path), target_rows=1000, retain_history=True)  # v3
    delete_where(spark, str(path), "id % 100 = 13")   # v4 (DV)
    # retain the last 3 versions (v2..v4): v2's DV lives in history and
    # must survive the prune
    vacuum(str(path), retain_snapshots=3)
    assert _scan(spark, path, snapshot=2).count() == 990
    # expire down to 1: history DVs for dropped versions are deleted
    vacuum(str(path), retain_snapshots=1)
    # the plan worker wraps the native ValidationError in Spark's
    # AnalysisException — match on the canonical message instead
    with pytest.raises(Exception, match="unknown snapshot"):
        _scan(spark, path, snapshot=2).count()


# ---- change feed ------------------------------------------------------


def test_cdf_emits_dv_deletes(spark, tmp_path):
    from olive_spark.ops.changes import read_changes
    from olive_spark.ops.maintenance import delete_where

    path = tmp_path / "t"
    _mk(spark, path, n=500, files=1)
    delete_where(spark, str(path), "id % 50 = 3")  # v2: 10 rows via DV
    ch = read_changes(spark, str(path), since=1, until=2).collect()
    assert len(ch) == 10
    assert all(r["_change_type"] == "delete" for r in ch)
    assert sorted(r["id"] for r in ch) == [
        3, 53, 103, 153, 203, 253, 303, 353, 403, 453
    ]


def test_cdf_dv_then_compact_nets_out(spark, tmp_path):
    """Endpoint diff across DV commit + compaction reports only the
    real row changes (moved rows cancel in the multiset diff)."""
    from olive_spark.ops.changes import read_changes
    from olive_spark.ops.maintenance import compact, delete_where

    path = tmp_path / "t"
    _mk(spark, path, n=500, files=2)
    delete_where(spark, str(path), "id % 50 = 3")            # v2
    compact(spark, str(path), target_rows=500,
            retain_history=True)                             # v3
    ch = read_changes(spark, str(path), since=1, until=3).collect()
    assert len(ch) == 10
    assert all(r["_change_type"] == "delete" for r in ch)


def test_cdf_restore_emits_dv_inserts(spark, tmp_path):
    from olive_spark.ops.changes import read_changes
    from olive_spark.ops.maintenance import delete_where, restore

    path = tmp_path / "t"
    _mk(spark, path, n=500, files=1)
    delete_where(spark, str(path), "id % 50 = 3")  # v2
    restore(str(path), 1)                          # v3: DV undone
    ch = read_changes(spark, str(path), since=2, until=3).collect()
    assert len(ch) == 10
    assert all(r["_change_type"] == "insert" for r in ch)


# ---- clone / crash recovery / misc ------------------------------------


def test_clone_carries_dvs(spark, tmp_path):
    from olive_spark.ops.maintenance import clone_table, delete_where

    path = tmp_path / "t"
    _mk(spark, path)
    delete_where(spark, str(path), "id % 100 = 7")     # v2
    delete_where(spark, str(path), "id % 100 = 13")    # v3
    dst = tmp_path / "clone"
    clone_table(str(path), str(dst))
    assert _scan(spark, dst).count() == 980
    # time-travel clone: the DV state AS OF the version travels
    dst2 = tmp_path / "clone_v2"
    clone_table(str(path), str(dst2), version=2)
    assert _scan(spark, dst2).count() == 990


def test_crash_recovery_activates_staged_dvs(spark, tmp_path):
    """A delete that died between DV staging + intent manifest and the
    commit is finished by _recover_pending (the next mutation's first
    act): staged DVs activate, the entry lands once."""
    from olive_spark.format import deletion as D
    from olive_spark.format.snapshots import current_version, dv_state_at
    from olive_spark.ops.maintenance import _recover_pending

    path = tmp_path / "t"
    _mk(spark, path, files=1)
    rel = os.path.relpath(
        glob.glob(str(path / "*.olive"))[0], str(path)
    )
    from olive_spark.format.snapshots import ensure_seeded

    ensure_seeded(str(path))
    dv_rel = os.path.join(D.DV_DIR, rel, "deadbeef.dv")
    stag = os.path.join(str(path), dv_rel) + ".staging"
    os.makedirs(os.path.dirname(stag), exist_ok=True)
    with open(stag, "wb") as f:
        f.write(D.encode_dv(np.array([0, 1], dtype=np.uint64)))
    man = os.path.join(str(path), "compact-deadbeef.manifest.json")
    with open(man, "w") as f:
        json.dump({
            "run": "deadbeef", "originals": [], "finals": [],
            "history": True, "empty": True, "tag": None,
            "dv_add": [[rel, dv_rel]],
        }, f)
    out = _recover_pending(str(path))
    assert out["manifests_completed"] == 1
    assert _scan(spark, path).count() == 998
    v = current_version(str(path))
    assert dv_state_at(str(path), v) == {rel: [dv_rel]}
    # idempotent: nothing pending afterwards
    assert _recover_pending(str(path))["manifests_completed"] == 0


def test_vacuum_sweeps_orphan_dv_staging(spark, tmp_path):
    from olive_spark.ops.maintenance import vacuum

    path = tmp_path / "t"
    _mk(spark, path, files=1)
    orphan = path / "_olive_dv" / "x.olive" / "dead.dv.staging"
    os.makedirs(os.path.dirname(str(orphan)), exist_ok=True)
    with open(str(orphan), "wb") as f:
        f.write(b"junk")
    out = vacuum(str(path))
    assert out["staging_files"] >= 1
    assert not os.path.exists(str(orphan))


def test_dv_on_partitioned_layout(spark, tmp_path):
    """DVs are per-file and layout-independent: a hive-partitioned
    table's small delete DVs inside the key=value dirs, pruning and
    results intact."""
    from pyspark.sql import functions as F

    from olive_spark.ops.maintenance import delete_where

    path = tmp_path / "t"
    (
        spark.range(0, 400)
        .withColumn("grp", (F.col("id") % 4).cast("int"))
        .repartition("grp")
        .write.format("olive").option("partitionBy", "grp")
        .mode("append").save(str(path))
    )
    r = delete_where(spark, str(path), "id % 100 = 1")
    assert r["files_dv"] >= 1 and r["files_rewritten"] == 0
    df = _scan(spark, path)
    assert df.count() == 396
    assert df.filter("grp = 1").count() == 96


# ---- merge-on-read MERGE ------------------------------------------------


def test_merge_small_upsert_takes_dv(spark, tmp_path):
    from olive_spark.ops.maintenance import merge_upsert

    path = tmp_path / "t"
    _mk(spark, path)
    before = sorted(glob.glob(str(path / "*.olive")))
    src = spark.createDataFrame(
        [(3, 999), (400, 888), (950, 777), (2000, 1)], ["id", "v"]
    )
    r = merge_upsert(spark, str(path), src, key_cols=["id"])
    assert r["files_dv"] >= 1 and r["files_rewritten"] == 0, r
    # originals untouched; only the insert landed as a new file
    after = set(glob.glob(str(path / "*.olive")))
    assert set(before) <= after
    df = spark.read.format("olive").load(str(path))
    assert df.count() == 1001
    got = {x.id: x.v for x in df.filter(
        "id IN (3, 400, 950, 2000, 10)").collect()}
    assert got == {3: 999, 400: 888, 950: 777, 2000: 1, 10: 20}
    # time travel to pre-merge
    old = spark.read.format("olive").option("snapshot", "1").load(str(path))
    assert old.count() == 1000
    assert old.filter("id = 3 AND v = 6").count() == 1


def test_merge_dv_cdf_updates(spark, tmp_path):
    from olive_spark.ops.changes import read_changes
    from olive_spark.ops.maintenance import merge_upsert

    path = tmp_path / "t"
    _mk(spark, path, n=500, files=1)
    src = spark.createDataFrame([(5, 111), (7, 222), (9000, 1)], ["id", "v"])
    r = merge_upsert(spark, str(path), src, key_cols=["id"])
    assert r["files_dv"] == 1, r
    ch = read_changes(
        spark, str(path), since=1, until=2, key_cols=["id"]
    ).collect()
    kinds = {}
    for row in ch:
        kinds[row["_change_type"]] = kinds.get(row["_change_type"], 0) + 1
    assert kinds == {
        "update_preimage": 2, "update_postimage": 2, "insert": 1
    }, kinds


def test_merge_latest_wins_dv_and_tombstone_floor(spark, tmp_path):
    """CDC merge (latest_by + delete_col) through the DV path: winning
    deletes mask positions, their sequences floor later stale updates
    via the EXECUTOR-STAGED tombstone sidecar (no driver collect)."""
    from pyspark.sql import functions as F  # noqa: F401

    from olive_spark.ops.maintenance import merge_upsert

    path = tmp_path / "t"
    (
        spark.range(0, 200)
        .selectExpr("id AS k", "id*10 AS v", "cast(0 as long) AS seq")
        .coalesce(1).write.format("olive").mode("append").save(str(path))
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, v long, seq long, is_del boolean"
        )

    r1 = merge_upsert(
        spark, str(path), batch([(5, 0, 10, True), (7, 777, 11, False)]),
        key_cols=["k"], latest_by="seq", delete_col="is_del",
    )
    assert r1["files_dv"] == 1 and r1["files_rewritten"] == 0, r1
    df = spark.read.format("olive").load(str(path))
    assert df.count() == 199
    assert df.filter("k = 7 AND v = 777").count() == 1
    # stale update for the deleted key: floored by the retained
    # tombstone, a clean no-op
    r2 = merge_upsert(
        spark, str(path), batch([(5, 555, 9, False)]),
        key_cols=["k"], latest_by="seq", delete_col="is_del",
    )
    assert r2["version"] == r2["pre_version"]
    assert spark.read.format("olive").load(str(path)).filter(
        "k = 5").count() == 0
    # genuinely newer update resurrects
    merge_upsert(
        spark, str(path), batch([(5, 556, 20, False)]),
        key_cols=["k"], latest_by="seq", delete_col="is_del",
    )
    assert spark.read.format("olive").load(str(path)).filter(
        "k = 5 AND v = 556").count() == 1
    # no uncommitted staging debris
    assert not glob.glob(str(path / "_olive_tombstones" / ".staging-*"))


def test_merge_condition_all_fail_is_noop(spark, tmp_path):
    """A conditional merge where every matched row fails the update
    condition and nothing inserts: NO file is touched and NO version is
    committed (pre-r10 rewrote affected files byte-identical)."""
    from olive_spark.format.snapshots import current_version
    from olive_spark.ops.maintenance import merge_upsert

    path = tmp_path / "t"
    _mk(spark, path, n=100, files=1)
    v0 = current_version(str(path))
    src = spark.createDataFrame([(5, 0), (7, 0)], ["id", "v"])  # v too low
    r = merge_upsert(
        spark, str(path), src, key_cols=["id"],
        update_condition="s.v > t.v",
    )
    assert r["files_rewritten"] == 0 and r["files_dv"] == 0, r
    assert r["version"] == v0
    assert spark.read.format("olive").load(str(path)).count() == 100


def test_scoped_compact_materializes_dv(spark, tmp_path):
    """compact(where=...) over DV'd files: the scoped rewrite reads
    through the folding scan (never resurrects masked rows) and retires
    the originals' DVs with them."""
    from olive_spark.ops.maintenance import compact, delete_where

    path = tmp_path / "t"
    _mk(spark, path, n=1000, files=2)
    delete_where(spark, str(path), "id % 100 = 7")  # DVs on both files
    out = compact(
        spark, str(path), target_rows=1000, where="id < 500",
        retain_history=True,
    )
    assert out["files_matched"] >= 1
    df = _scan(spark, path)
    assert df.count() == 990
    assert df.filter("id IN (7, 107, 907)").count() == 0


def test_cdf_by_commit_over_dv(spark, tmp_path):
    from olive_spark.ops.changes import read_changes_by_commit
    from olive_spark.ops.maintenance import delete_where

    path = tmp_path / "t"
    _mk(spark, path, n=300, files=1)
    delete_where(spark, str(path), "id % 100 = 1")   # v2: 3 rows
    delete_where(spark, str(path), "id % 100 = 2")   # v3: 3 rows
    ch = read_changes_by_commit(spark, str(path), since=1).collect()
    got = {}
    for r in ch:
        got.setdefault(r["_commit_version"], []).append(int(r["id"]))
    assert {v: sorted(ids) for v, ids in got.items()} == {
        2: [1, 101, 201], 3: [2, 102, 202]
    }
    assert all(r["_change_type"] == "delete" for r in ch)


def test_streaming_source_folds_dvs(spark, tmp_path):
    """A DV commit doesn't change the source file listing (the digest
    guard can't see it), so the streaming source folds the CURRENT DV
    state at batch plan time — deleted rows never enter the stream."""
    from olive_spark.ops.maintenance import delete_where

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    _mk(spark, src, n=100, files=1)
    delete_where(spark, src, "id % 10 = 3")
    q = (
        spark.readStream.format("olive").load(src)
        .writeStream.format("olive")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True).start(out)
    )
    q.awaitTermination(120)
    got = spark.read.format("olive").load(out)
    assert got.count() == 90
    assert got.filter("id % 10 = 3").count() == 0


def test_update_where_small_takes_dv(spark, tmp_path):
    """Merge-on-read UPDATE: matched rows mask behind a DV, their
    updated copies append — original file bytes untouched; time travel
    and CDF see the update as delete+insert of the same rows."""
    from olive_spark.ops.changes import read_changes
    from olive_spark.ops.maintenance import update_where

    path = tmp_path / "t"
    _mk(spark, path, n=1000, files=1)
    import os as _os

    before = {
        f: _os.path.getsize(f) for f in glob.glob(str(path / "*.olive"))
    }
    r = update_where(
        spark, str(path), {"v": "v + 1000000"}, "id % 100 = 7",
    )
    assert r["files_dv"] == 1 and r["files_rewritten"] == 0, r
    # original file untouched; copies landed as a new file
    assert all(
        _os.path.getsize(f) == sz for f, sz in before.items()
    )
    df = _scan(spark, path)
    assert df.count() == 1000
    assert df.filter("id = 7").first()["v"] == 14 + 1000000
    assert df.filter("id = 8").first()["v"] == 16
    # one version; pre-update snapshot exact
    old = _scan(spark, path, snapshot=r["pre_version"])
    assert old.filter("id = 7").first()["v"] == 14
    # CDF: update surfaces as update_pre/postimage with key knowledge
    ch = read_changes(
        spark, str(path), since=r["pre_version"], until=r["version"],
        key_cols=["id"],
    ).collect()
    kinds = {}
    for row in ch:
        kinds[row["_change_type"]] = kinds.get(row["_change_type"], 0) + 1
    assert kinds == {"update_preimage": 10, "update_postimage": 10}, kinds


def test_update_where_rewrite_mode_unchanged(spark, tmp_path):
    from olive_spark.ops.maintenance import update_where

    path = tmp_path / "t"
    _mk(spark, path, n=100, files=1)
    r = update_where(
        spark, str(path), {"v": "v * 2"}, "id < 50", mode="rewrite",
    )
    assert r["files_rewritten"] == 1 and r["files_dv"] == 0
    df = _scan(spark, path)
    assert df.filter("id = 1").first()["v"] == 4
    assert df.filter("id = 99").first()["v"] == 198


def test_retire_order_never_resurrects_and_vacuum_sweeps_orphans(
    spark, tmp_path
):
    """Crash-window ordering: a file retires BEFORE its DVs, so no
    interleaving can leave a live file with its mask gone (resurrected
    rows); the opposite residue — orphan DVs for a dead file — is harmless
    and vacuum moves it to history."""
    from olive_spark.format import deletion as D
    from olive_spark.ops.maintenance import delete_where, vacuum

    path = tmp_path / "t"
    _mk(spark, path, n=200, files=1)
    delete_where(spark, str(path), "id % 20 = 3")  # DV, 10 rows
    rel = next(iter(D.list_dvs(str(path))))
    # simulate the crash residue: data file gone, DVs left live
    os.remove(str(path / rel))
    out = vacuum(str(path))
    assert out["orphan_dvs"] == 1, out
    assert not D.list_dvs(str(path))


def test_compact_if_needed_dv_gc(spark, tmp_path):
    """DV garbage collection: a file whose masked fraction passes the
    threshold gets a SCOPED materializing compact; light files and
    DV-less tables no-op."""
    from olive_spark.format import deletion as D
    from olive_spark.ops.maintenance import compact_if_needed, delete_where

    path = tmp_path / "t"
    _mk(spark, path, n=400, files=2)  # 2 files x 200 rows
    # mask 60% of one file's rows (force DV past the auto threshold)
    delete_where(spark, str(path), "id < 120", mode="dv")
    out = compact_if_needed(spark, str(path), max_dv_fraction=0.5)
    assert out["compacted"] is True and out.get("dv_heavy_files") == 1, out
    # the heavy file's DVs are materialized away; the light file (0
    # masked) kept its bytes
    assert not D.list_dvs(str(path))
    df = _scan(spark, path)
    assert df.count() == 280
    assert df.filter("id < 120").count() == 0
    # second call: nothing to do
    out2 = compact_if_needed(spark, str(path), max_dv_fraction=0.5)
    assert out2["compacted"] is False


def test_merge_dv_on_hidden_partition_layout(spark, tmp_path):
    """days(ts) + CDC-style small MERGE through the DV path: the DV
    sidecars nest under the target's day dir, inserts land partitioned,
    transform pruning and time travel keep working."""
    import datetime as dt

    from pyspark.sql import functions as F  # noqa: F401

    from olive_spark.ops.maintenance import merge_upsert

    path = tmp_path / "t"
    base = dt.datetime(2023, 11, 14, 12, 0, 0)
    rows = [
        (k, base + dt.timedelta(days=k % 3), k * 10) for k in range(300)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    df.repartition(3).write.format("olive") \
        .option("partitionBy", "days(ts)").mode("append").save(str(path))
    src = spark.createDataFrame(
        [(0, base, 999), (5000, base + dt.timedelta(days=40), 1)],
        "k long, ts timestamp, v long",
    )
    r = merge_upsert(spark, str(path), src, key_cols=["k"])
    assert r["files_dv"] >= 1 and r["files_rewritten"] == 0, r
    got = spark.read.format("olive").load(str(path))
    assert got.count() == 301
    assert got.filter("k = 0").first()["v"] == 999
    # insert created its own day dir; DV sidecars nest under day dirs
    import glob as g

    assert any("ts_day=2023-12-24" in d for d in os.listdir(str(path)))
    dvs = g.glob(str(path / "_olive_dv" / "ts_day=*" / "*" / "*.dv"))
    assert dvs, os.listdir(str(path / "_olive_dv"))
    # time travel to pre-merge
    assert spark.read.format("olive").option(
        "snapshot", str(r["pre_version"])).load(str(path)).count() == 300
    # transform pruning still serves the day the DV lives in correctly
    day = got.filter(
        "ts >= timestamp'2023-11-14 00:00:00' AND "
        "ts < timestamp'2023-11-15 00:00:00'"
    )
    assert day.filter("k = 0").first()["v"] == 999


def test_snapshot_replay_with_dvs_matches_model(tmp_path):
    """Randomized model check of the log replay DV folding: a random
    interleaving of appends, removes, DV adds, DV removes, resets, and
    log COLLAPSES (max_entries) must reproduce the reference model's
    (files, DV) state at every retained version — the replay is what
    time travel, CDF, restore, and clone all stand on."""
    import random

    from olive_spark.format.snapshots import (
        append_entry,
        dv_state_at,
        files_at,
        load_log,
    )

    rng = random.Random(20260815)
    path = str(tmp_path / "t")
    os.makedirs(path)
    # reference model per committed version
    live: set = set()
    dv: dict = {}
    states: dict = {}
    next_file = 0
    next_dv = 0
    first = True
    for _step in range(120):
        op = rng.random()
        add, remove, dv_add, dv_remove, reset = [], [], [], [], False
        if first or op < 0.35:
            add = [f"part-{next_file:04d}.olive"]
            next_file += 1
        elif op < 0.5 and live:
            remove = [rng.choice(sorted(live))]
        elif op < 0.75 and live:
            t = rng.choice(sorted(live))
            dv_add = [(t, f"_olive_dv/{t}/{next_dv:04d}.dv")]
            next_dv += 1
        elif op < 0.85 and dv:
            t = rng.choice(sorted(dv))
            dv_remove = [(t, rng.choice(dv[t]))]
        elif op < 0.9:
            reset = True
            add = [f"part-{next_file:04d}.olive"]
            next_file += 1
        else:
            add = [f"part-{next_file:04d}.olive"]
            next_file += 1
        # occasional collapse bounds the log like long-lived streams do
        max_entries = rng.choice([None, None, None, 10, 25])
        v = append_entry(
            path, add=add, remove=remove, reset=reset,
            dv_add=dv_add, dv_remove=dv_remove, max_entries=max_entries,
        )
        first = False
        # fold into the model (same semantics the engine promises)
        if reset:
            live.clear(); dv.clear()
        live.update(add)
        for r in remove:
            live.discard(r); dv.pop(r, None)
        for t, d in dv_add:
            dv.setdefault(t, []).append(d)
        for t, d in dv_remove:
            if t in dv and d in dv[t]:
                dv[t].remove(d)
                if not dv[t]:
                    del dv[t]
        states[v] = (
            sorted(live), {t: sorted(n) for t, n in dv.items()}
        )
        # every RETAINED version must replay to the model's state
        retained = [int(e["v"]) for e in load_log(path)["entries"]]
        for rv in retained:
            want_files, want_dv = states[rv]
            assert files_at(path, rv) == want_files, (rv, "files")
            assert dv_state_at(path, rv) == want_dv, (rv, "dv")


# ---- r11 advice fixes ---------------------------------------------------


def test_dv_table_scoped_in_multi_table_chunk(spark, tmp_path):
    """A DV written against one table of a hand-written multi-table
    chunk must not fold into scans of the OTHER tables in that file
    (r10 advice: DVs were keyed by target file only)."""
    import pyarrow as pa

    from olive_spark.format import deletion as D
    from olive_spark.format.writer import write_chunk

    path = tmp_path / "mt"
    path.mkdir()
    a = pa.table({"id": list(range(10))})
    b = pa.table({"id": list(range(100, 110))})
    fp = path / "chunk-0.olive"
    fp.write_bytes(write_chunk({"ta": a, "tb": b}))
    # DV against table "ta": drop positions 0..4
    dv_dir = path / D.DV_DIR / "chunk-0.olive"
    dv_dir.mkdir(parents=True)
    (dv_dir / "x.dv").write_bytes(
        D.encode_dv(np.arange(5), table="ta")
    )
    ta = _scan(spark, path, table="ta").collect()
    tb = _scan(spark, path, table="tb").collect()
    assert sorted(r["id"] for r in ta) == list(range(5, 10))
    # tb keeps ALL rows — the DV is scoped to ta
    assert sorted(r["id"] for r in tb) == list(range(100, 110))
    # legacy DV without a table field applies to any table (pre-r11)
    (dv_dir / "x.dv").write_bytes(
        D.encode_dv(np.arange(2))
    )
    tb2 = _scan(spark, path, table="tb").collect()
    assert sorted(r["id"] for r in tb2) == list(range(102, 110))


def test_count_rows_ignores_orphan_dvs(spark, tmp_path):
    """count_rows/describe must skip DVs whose target file is no
    longer live (crash between data-file retire and DV retire) — scans
    ignore them, so metadata counts must agree (r10 advice)."""
    from olive_spark.format import deletion as D
    from olive_spark.ops.maintenance import count_rows, delete_where, describe

    path = str(tmp_path / "t")
    _mk(spark, path, n=400, files=2)
    delete_where(spark, path, "id < 10", mode="dv")
    assert count_rows(path) == 390
    # fabricate an orphan: a DV whose target never existed
    orphan = os.path.join(path, D.DV_DIR, "gone.olive")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "o.dv"), "wb") as f:
        f.write(D.encode_dv(np.arange(50)))
    scan_n = _scan(spark, path).count()
    assert scan_n == 390
    assert count_rows(path) == 390  # orphan skipped
    assert describe(path)["rows"] == 390


def test_commit_lock_release_respects_stolen_lock(tmp_path):
    """__exit__ after a TTL steal must NOT displace the new holder's
    live lock file (r10 advice).  A real steal needs a dead foreign
    pid (the same-host liveness guard refuses intra-process), so the
    steal is simulated: replace the lock file with the new holder's —
    exactly the on-disk state __exit__ faces after being stolen from."""
    from olive_spark.format.lock import metadata_commit_lock

    d = str(tmp_path / "t")
    os.makedirs(d)
    a = metadata_commit_lock(d, ttl=0.05)
    a.__enter__()
    # simulate the new holder's lock landing after a TTL steal
    foreign = {"pid": 99999, "host": "elsewhere", "token": "them",
               "ts": 9e18, "ttl": 30.0}
    with open(a.path, "w") as f:
        json.dump(foreign, f)
    a.__exit__(None, None, None)  # must leave the foreign lock in place
    with open(a.path) as f:
        assert json.load(f)["token"] == "them"
    os.remove(a.path)
    # normal acquire/release still round-trips
    b = metadata_commit_lock(d)
    b.__enter__()
    b.__exit__(None, None, None)
    assert not os.path.exists(b.path)


# ---- r11: page-level DV pruning ----------------------------------------


def _poison_pages(path_file, page_indices):
    """Overwrite the full byte range of the given row-grid pages (every
    buffer of every field) with 0xFF — any attempt to decompress them
    fails loudly, so a scan that succeeds provably skipped them."""
    from olive_spark.format.header import read_header

    header, data_off = read_header(path_file)
    spans = []
    for th in header.tables:
        for f in th.fields:
            for b in f.buffers.values():
                for i in page_indices:
                    if i < len(b.pages):
                        p = b.pages[i]
                        if p.compressed_size:
                            spans.append((p.offset, p.compressed_size))
    assert spans
    with open(path_file, "r+b") as fh:
        for off, size in spans:
            fh.seek(data_off + off)
            fh.write(b"\xff" * size)


def test_fully_deleted_pages_never_decoded(spark, tmp_path):
    """A DV covering a contiguous half of the file drops those pages at
    select_pages time (r11 verdict task #8): poisoning their bytes
    proves the folding scan never decompresses them, and the result is
    identical to the unpoisoned fold."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    (
        spark.range(1000).withColumn("v", F.col("id") * 2)
        .coalesce(1).write.format("olive")
        .option("pageRows", "100").mode("append").save(path)
    )
    from olive_spark.ops.maintenance import delete_where

    st = delete_where(spark, path, "id < 500", mode="dv")
    assert st["files_dv"] == 1, st
    fp = [f for f in glob.glob(os.path.join(path, "*.olive"))]
    assert len(fp) == 1
    _poison_pages(fp[0], list(range(5)))  # pages 0-4 are fully dead
    from olive_spark.format.header import _HEADER_CACHE

    _HEADER_CACHE.clear()
    got = sorted(r["id"] for r in _scan(spark, path).collect())
    assert got == list(range(500, 1000))
    # predicate + DV compose: pushdown still works over the survivors
    n = _scan(spark, path, pushdown="true").filter("id >= 900").count()
    assert n == 100


def test_dv_select_reads_only_marked_pages(spark, tmp_path):
    """Change-feed DV-diff mode (dvMode=select) reads ONLY pages that
    hold marked positions: poisoning every other page proves it."""
    import json as _json

    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    (
        spark.range(1000).withColumn("v", F.col("id") * 2)
        .coalesce(1).write.format("olive")
        .option("pageRows", "100").mode("append").save(path)
    )
    from olive_spark.format.deletion import list_dvs
    from olive_spark.ops.maintenance import delete_where

    delete_where(spark, path, "id < 100", mode="dv")
    dvs = list_dvs(path)
    fp = glob.glob(os.path.join(path, "*.olive"))
    assert len(fp) == 1
    # poison exactly the pages holding NO marked position (the page
    # grid rounds page boundaries, so compute them with the filter)
    from olive_spark.datasource.olive_datasource import (
        _dv_page_filter,
        _page_grid,
    )
    from olive_spark.format.deletion import read_positions
    from olive_spark.format.header import read_header

    h, _off = read_header(fp[0])
    th = h.tables[0]
    n_pages = len(_page_grid(th)[1])
    dv_file = glob.glob(os.path.join(path, "_olive_dv", "**", "*.dv"),
                        recursive=True)[0]
    marked = _dv_page_filter(
        th, None, read_positions(dv_file).astype("int64"),
        keep_marked=True,
    )
    unmarked = [i for i in range(n_pages) if i not in set(marked)]
    assert marked and unmarked
    _poison_pages(fp[0], unmarked)
    from olive_spark.format.header import _HEADER_CACHE

    _HEADER_CACHE.clear()
    got = (
        _scan(spark, path, dvMode="select", dvs=_json.dumps(dvs))
        .collect()
    )
    assert sorted(r["id"] for r in got) == list(range(100))
