"""Opt-in Serializable isolation for mutations (r11 verdict task #6):
``isolation="serializable"`` re-validates the mutation's predicate
against files appended — by a REAL separate process — between its
snapshot read and its commit.  An intersecting append aborts the
mutation with the named ``SerializableConflict`` and NOTHING becomes
visible; a non-intersecting one commits normally.  The engine default
stays WriteSerializable (SURVEY §2): appends interleave freely.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One-shot appender process: appends a single chunk of (id, v) rows via
# the same metadata protocol the DSv2 writer uses (manifest + snapshot
# entry under the commit lock) — the real concurrent writer the
# serializable check must detect.
_APPENDER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
import pyarrow as pa
from olive_spark.format.writer import write_chunk
from olive_spark.format.manifest import merge_manifest, table_summary
from olive_spark.format.snapshots import append_entry

path, lo, hi = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
ids = list(range(lo, hi))
tbl = pa.table({{"id": pa.array(ids, pa.int64()),
                 "v": pa.array([i * 2 for i in ids], pa.int64())}})
blob = write_chunk({{"data": tbl}})
name = f"part-{{time.time_ns():020d}}-race.olive"
with open(os.path.join(path, name), "wb") as f:
    f.write(blob)
ent = table_summary(tbl); ent["size"] = len(blob)
merge_manifest(path, {{name: ent}})
append_entry(path, add=[name])
print("appended", name)
"""


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


def _mk(spark, path, n=100):
    from pyspark.sql import functions as F

    (
        spark.range(n).withColumn("v", F.col("id") * 2)
        .coalesce(2).write.format("olive")
        .option("table", "data").mode("append").save(str(path))
    )


def _hook_append(tmp_path, path, lo, hi):
    """Returns a hook that lands one real-subprocess append of ids
    [lo, hi) inside the mutation's race window."""
    script = tmp_path / "appender.py"
    script.write_text(_APPENDER.format(repo=REPO))

    def hook() -> None:
        out = subprocess.run(
            [sys.executable, str(script), str(path), str(lo), str(hi)],
            capture_output=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr.decode()[-2000:]

    return hook


def _scan(spark, path):
    return spark.read.format("olive").option("table", "data").load(str(path))


def test_delete_serializable_aborts_on_intersecting_append(spark, tmp_path):
    _aborts_on_intersecting_append(spark, tmp_path, "delete_where")


def test_update_dv_serializable_aborts_on_intersecting_append(
    spark, tmp_path
):
    """The same gate on a DV-staging update: its deletion vectors are
    already staged when the conflict is found, and the abort removes
    them."""
    _aborts_on_intersecting_append(spark, tmp_path, "update_where")


def _aborts_on_intersecting_append(spark, tmp_path, verb):
    from olive_spark.format.errors import SerializableConflict
    from olive_spark.ops import maintenance as M

    path = str(tmp_path / "t")
    mutate, rows_key, rows_after = {
        "delete_where": (
            lambda: M.delete_where(
                spark, path, "id >= 50", isolation="serializable"
            ),
            "rows_deleted", 50,
        ),
        "update_where": (
            lambda: M.update_where(
                spark, path, {"v": "v + 1"}, "id >= 50", mode="dv",
                isolation="serializable",
            ),
            "rows_updated", 105,
        ),
    }[verb]
    _mk(spark, path)
    # the racing append's ids 300..304 MATCH the mutation's predicate
    append = _hook_append(tmp_path, path, 300, 305)
    staged_in_window = []

    def hook():
        staged_in_window.extend(glob.glob(
            os.path.join(path, "**", "*.dv.staging"), recursive=True
        ))
        append()

    M._TEST_HOOKS["serializable_window"] = hook
    try:
        with pytest.raises(SerializableConflict, match="serializable conflict"):
            mutate()
    finally:
        M._TEST_HOOKS.clear()
    if verb == "update_where":
        assert staged_in_window  # mode="dv" staged before the gate
    # NOTHING visible from the aborted mutation: all 100 original rows
    # + the 5 appended remain unchanged, no DVs, no staged debris
    assert _scan(spark, path).count() == 105
    assert _scan(spark, path).filter("id >= 50 and id < 100").count() == 50
    assert _scan(spark, path).filter("v = id * 2").count() == 105
    assert not glob.glob(os.path.join(path, "_olive_dv", "**", "*.dv"),
                         recursive=True)
    assert not glob.glob(os.path.join(path, "**", "*.staging"),
                         recursive=True)
    # re-running the mutation (the documented recovery) now succeeds
    # and reaches the appended rows too — it reads the new snapshot
    out = mutate()
    assert out[rows_key] == 55
    assert _scan(spark, path).count() == rows_after


def test_delete_serializable_commits_on_disjoint_append(spark, tmp_path):
    from olive_spark.ops import maintenance as M

    path = str(tmp_path / "t")
    _mk(spark, path)
    # the racing append's ids 300+ can NOT match "id < 50"
    M._TEST_HOOKS["serializable_window"] = _hook_append(
        tmp_path, path, 300, 305
    )
    try:
        out = M.delete_where(
            spark, path, "id < 50", isolation="serializable"
        )
    finally:
        M._TEST_HOOKS.clear()
    assert out["rows_deleted"] == 50
    got = _scan(spark, path)
    assert got.count() == 55  # 50 survivors + 5 disjoint appended rows
    assert got.filter("id >= 300").count() == 5


def test_merge_serializable_conflict_and_commit(spark, tmp_path):
    from olive_spark.format.errors import SerializableConflict
    from olive_spark.ops import maintenance as M

    path = str(tmp_path / "t")
    _mk(spark, path)
    # intersecting: the racing append inserts id=400 and the source
    # also carries key 400 — the merge would have matched it
    src = spark.createDataFrame([(400, 999), (1, 111)], "id long, v long")
    M._TEST_HOOKS["serializable_window"] = _hook_append(
        tmp_path, path, 400, 401
    )
    try:
        with pytest.raises(SerializableConflict, match="serializable conflict"):
            M.merge_upsert(
                spark, path, src, ["id"], isolation="serializable"
            )
    finally:
        M._TEST_HOOKS.clear()
    got = _scan(spark, path)
    assert got.count() == 101  # original 100 + raced append; no merge
    assert got.filter("id = 1 and v = 2").count() == 1  # update not applied
    # the DV the key match staged for id=1 is gone with the abort
    assert not glob.glob(os.path.join(path, "_olive_dv", "**", "*.dv"),
                         recursive=True)
    assert not glob.glob(os.path.join(path, "**", "*.staging"),
                         recursive=True)
    # disjoint: racing append far from the source keys — merge commits
    src2 = spark.createDataFrame([(500, 5), (1, 111)], "id long, v long")
    M._TEST_HOOKS["serializable_window"] = _hook_append(
        tmp_path, path, 700, 702
    )
    try:
        out = M.merge_upsert(
            spark, path, src2, ["id"], isolation="serializable"
        )
    finally:
        M._TEST_HOOKS.clear()
    assert not out["inserted_only"]
    got = _scan(spark, path)
    assert got.filter("id = 1 and v = 111").count() == 1  # update applied
    assert got.filter("id = 500").count() == 1            # insert applied
    assert got.filter("id in (700, 701)").count() == 2    # append intact


def test_default_write_serializable_interleaves(spark, tmp_path):
    """The default level documents itself: an intersecting append does
    NOT abort — it lands beside the mutation (append rows unread by the
    delete survive), exactly Delta's WriteSerializable."""
    from olive_spark.ops import maintenance as M

    path = str(tmp_path / "t")
    _mk(spark, path)
    M._TEST_HOOKS["serializable_window"] = _hook_append(
        tmp_path, path, 300, 305
    )
    try:
        out = M.delete_where(spark, path, "id >= 50")
    finally:
        M._TEST_HOOKS.clear()
    assert out["rows_deleted"] == 50
    got = _scan(spark, path)
    # appended rows (which match the predicate!) survive — the
    # WriteSerializable interleave the serializable level forbids
    assert got.filter("id >= 300").count() == 5
    assert got.count() == 55
