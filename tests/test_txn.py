"""Multi-table atomic transactions (ops/txn.py): all-or-nothing
appends across tables under crashes injected at every protocol phase,
idempotent redo, rollback of prepared-but-undecided transactions, and
layout/stat preservation on the published files."""

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


def _mk(spark, lo, hi, tag):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit(tag + "-"), F.col("id").cast("string")).alias("v"),
        )
    )


def _seed(spark, path, lo, hi, tag):
    _mk(spark, lo, hi, tag).coalesce(1).write.format("olive") \
        .mode("append").save(path)


def _count(spark, path):
    return spark.read.format("olive").load(path).count()


class Boom(RuntimeError):
    pass


def _boom():
    raise Boom()


def test_multi_table_append_happy_path(spark, tmp_path):
    from olive_spark.format.snapshots import current_version, load_log
    from olive_spark.ops import txn

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 5, "b")
    out = txn.multi_table_append(
        spark, [(a, _mk(spark, 10, 25, "a")), (b, _mk(spark, 5, 12, "b"))]
    )
    assert _count(spark, a) == 25
    assert _count(spark, b) == 12
    assert out["tables"] == {
        os.path.abspath(a): current_version(a),
        os.path.abspath(b): current_version(b),
    }
    # one tagged snapshot version per table, same txn tag
    tag = "txn-" + out["txn"]
    for p in (a, b):
        tags = [e.get("tag") for e in load_log(p)["entries"]]
        assert tags.count(tag) == 1
    # no marker debris, no staged leftovers (the group root pointer is
    # the one durable artifact a completed txn leaves behind — r12)
    assert os.listdir(os.path.join(a, "_olive_txn")) == ["_root.json"]
    assert not [f for f in os.listdir(a) if f.endswith(".staging")]
    assert not [f for f in os.listdir(b) if f.endswith(".staging")]


def test_crash_mid_prepare_rolls_back_everything(spark, tmp_path):
    """Dying while staging (after table A staged, before B) must leave
    both tables untouched — staged files are rolled back by the failing
    call itself, and a fresh transaction succeeds afterwards."""
    from olive_spark.ops import txn

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 5, "b")
    txn._CRASH_HOOKS["mid_prepare"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(
                spark,
                [(a, _mk(spark, 10, 20, "a")), (b, _mk(spark, 5, 9, "b"))],
            )
    finally:
        txn._CRASH_HOOKS.clear()
    assert _count(spark, a) == 10
    assert _count(spark, b) == 5
    assert not [f for f in os.listdir(a) if f.endswith(".staging")]
    out = txn.multi_table_append(
        spark, [(a, _mk(spark, 10, 20, "a")), (b, _mk(spark, 5, 9, "b"))]
    )
    assert out["txn"]
    assert _count(spark, a) == 20
    assert _count(spark, b) == 9


def test_crash_after_prepare_recovery_rolls_back(spark, tmp_path):
    """Dying BETWEEN writing the prepared marker and the decide rename:
    nothing was ever visible, and the next transaction's recovery
    removes the staged files and the marker."""
    from olive_spark.ops import txn

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 5, "b")
    txn._CRASH_HOOKS["after_prepare"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(
                spark,
                [(a, _mk(spark, 10, 20, "a")), (b, _mk(spark, 5, 9, "b"))],
            )
    finally:
        txn._CRASH_HOOKS.clear()
    # marker survives the crash (the raising call can't clean up);
    # counts unchanged because staged names are inert
    assert any(
        n.endswith(".prepared.json")
        for n in os.listdir(os.path.join(a, "_olive_txn"))
    )
    assert _count(spark, a) == 10
    assert _count(spark, b) == 5
    healed = txn.recover_txns(spark, a)
    assert healed == {"rolled_back": 1, "completed": 0}
    assert _count(spark, a) == 10
    assert _count(spark, b) == 5
    assert not [f for f in os.listdir(a) if f.endswith(".staging")]
    assert not [f for f in os.listdir(b) if f.endswith(".staging")]


def test_crash_after_decide_recovery_completes_both(spark, tmp_path):
    """Dying right AFTER the decide rename (before any publish): the
    transaction is committed — recovery publishes BOTH tables."""
    from olive_spark.ops import txn

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 5, "b")
    txn._CRASH_HOOKS["after_decide"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(
                spark,
                [(a, _mk(spark, 10, 20, "a")), (b, _mk(spark, 5, 9, "b"))],
            )
    finally:
        txn._CRASH_HOOKS.clear()
    assert _count(spark, a) == 10  # not yet published
    healed = txn.recover_txns(spark, a)
    assert healed == {"rolled_back": 0, "completed": 1}
    assert _count(spark, a) == 20
    assert _count(spark, b) == 9


def test_crash_mid_publish_recovery_finishes_the_rest(spark, tmp_path):
    """Dying after table A published but before table B: recovery (run
    implicitly by the NEXT transaction on the same coordinator)
    publishes only the missing side — the already-published table's
    tagged entry is not duplicated."""
    from olive_spark.format.snapshots import load_log
    from olive_spark.ops import txn

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 5, "b")
    txn._CRASH_HOOKS["mid_publish"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(
                spark,
                [(a, _mk(spark, 10, 20, "a")), (b, _mk(spark, 5, 9, "b"))],
            )
    finally:
        txn._CRASH_HOOKS.clear()
    assert _count(spark, a) == 20  # A landed before the crash
    assert _count(spark, b) == 5  # B did not
    # implicit heal: a later transaction on the same coordinator
    out = txn.multi_table_append(spark, [(a, _mk(spark, 20, 22, "a"))])
    assert out["txn"]
    assert _count(spark, a) == 22
    assert _count(spark, b) == 9  # healed
    # exactly one tagged entry per table per txn — no redo duplication
    for p in (a, b):
        tags = [
            e.get("tag") for e in load_log(p)["entries"] if e.get("tag")
        ]
        assert len(tags) == len(set(tags))


def test_txn_group_root_pointer_consistent_cut(spark, tmp_path):
    """r12 verdict task #2: the table-group root pointer closes the
    read-side window.  With a txn crashed BETWEEN its two publishes,
    live scans show the torn state (A new, B old) but group reads
    (scan_txn_group — versions resolved through _olive_txn/_root.json,
    swapped only after the LAST publish) still serve the all-pre cut;
    after recovery they serve all-post.  The pointer is durable: a
    separate process resolves the same cut.  A crash between the root
    swap and marker removal redoes idempotently — same versions, no
    duplicate tags."""
    import json as _json
    import subprocess
    import sys

    from olive_spark.format.snapshots import load_log
    from olive_spark.ops import txn

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 5, "b")
    # first completed txn establishes the group root
    txn.multi_table_append(
        spark, [(a, _mk(spark, 10, 12, "a")), (b, _mk(spark, 5, 7, "b"))]
    )
    assert txn.scan_txn_group(spark, a, a).count() == 12
    assert txn.scan_txn_group(spark, a, b).count() == 7

    # crash between A's publish and B's
    txn._CRASH_HOOKS["mid_publish"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(
                spark,
                [(a, _mk(spark, 12, 20, "a")), (b, _mk(spark, 7, 9, "b"))],
            )
    finally:
        txn._CRASH_HOOKS.clear()
    assert _count(spark, a) == 20 and _count(spark, b) == 7  # torn live
    pre = txn.group_versions(a)
    assert txn.scan_txn_group(spark, a, a).count() == 12     # all-pre
    assert txn.scan_txn_group(spark, a, b).count() == 7
    # a separate PROCESS resolves the identical cut (root is durable
    # state, not session memory)
    out = subprocess.run(
        [sys.executable, "-c",
         "import json, sys; from olive_spark.ops import txn; "
         "print(json.dumps(txn.group_versions(sys.argv[1])))", a],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert _json.loads(out.stdout.strip()) == pre

    txn.recover_txns(spark, a)
    assert txn.scan_txn_group(spark, a, a).count() == 20     # all-post
    assert txn.scan_txn_group(spark, a, b).count() == 9

    # crash AFTER the root swap, before marker removal: redo is a no-op
    txn._CRASH_HOOKS["after_root"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(spark, [(a, _mk(spark, 20, 22, "a"))])
    finally:
        txn._CRASH_HOOKS.clear()
    txn.recover_txns(spark, a)
    assert txn.scan_txn_group(spark, a, a).count() == 22
    for p in (a, b):
        tags = [e.get("tag") for e in load_log(p)["entries"] if e.get("tag")]
        assert len(tags) == len(set(tags))
    # the first-class reader option is the same resolution (schema()
    # included); exclusive with explicit snapshots
    got = (
        spark.read.format("olive").option("txnGroup", a).load(b).count()
    )
    assert got == 9
    with pytest.raises(Exception, match="exclusive"):
        (
            spark.read.format("olive").option("txnGroup", a)
            .option("snapshot", "1").load(b).count()
        )


def test_txn_group_random_schedule_model(spark, tmp_path):
    """Randomized schedule model for the group root pointer: under any
    interleaving of completed txns, crashes at every protocol phase,
    independent live appends, and recovery, a group read of any member
    table must equal the table's state AT THE LAST ROOT SWAP — never a
    torn or in-flight state.  (Live reads are allowed to be torn; the
    group cut is the invariant.)"""
    import random

    from olive_spark.ops import txn

    rng = random.Random(1412)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 5, "a")
    _seed(spark, b, 0, 5, "b")
    nxt = 5
    live = {a: 5, b: 5}
    group = {a: None, b: None}   # None = no root entry → live read
    pending = False              # a decided txn awaits recovery

    def swap_record():
        group[a], group[b] = live[a], live[b]

    for step in range(8):
        op = rng.choice(
            ["txn", "crash", "live_append", "recover", "recover"]
        )
        if op == "txn" and not pending:
            txn.multi_table_append(
                spark,
                [(a, _mk(spark, nxt, nxt + 3, "a")),
                 (b, _mk(spark, nxt, nxt + 2, "b"))],
            )
            live[a] += 3
            live[b] += 2
            swap_record()
            nxt += 3
        elif op == "crash" and not pending:
            phase = rng.choice(
                ["after_prepare", "after_decide", "mid_publish",
                 "after_root"]
            )
            txn._CRASH_HOOKS[phase] = _boom
            try:
                with pytest.raises(Boom):
                    txn.multi_table_append(
                        spark,
                        [(a, _mk(spark, nxt, nxt + 3, "a")),
                         (b, _mk(spark, nxt, nxt + 2, "b"))],
                    )
            finally:
                txn._CRASH_HOOKS.clear()
            nxt += 3
            if phase == "after_prepare":
                # undecided: recovery rolls back; nothing ever visible
                pending = True
            elif phase == "after_root":
                # decided AND swapped: fully visible incl. group reads
                live[a] += 3
                live[b] += 2
                swap_record()
                pending = True  # marker still present until recovery
            else:
                # decided, not yet (fully) published/swapped: the rows
                # are committed but the GROUP cut must stay all-pre
                live[a] += 3
                live[b] += 2
                pending = True
        elif op == "live_append":
            _seed(spark, a, nxt, nxt + 2, "a")
            live[a] += 2
            nxt += 2
        elif op == "recover":
            healed = txn.recover_txns(spark, a)
            if pending and healed.get("completed"):
                swap_record()
            pending = False
        # invariant: group reads serve exactly the last-swap cut
        for t in (a, b):
            want = group[t] if group[t] is not None else \
                spark.read.format("olive").load(t).count()
            got = txn.scan_txn_group(spark, a, t).count()
            assert got == want, (step, op, t, got, want)
    txn.recover_txns(spark, a)
    for t in (a, b):
        assert spark.read.format("olive").load(t).count() == live[t]


def test_validation_and_single_table_degenerate(spark, tmp_path):
    from olive_spark.ops import txn

    a = str(tmp_path / "a")
    _seed(spark, a, 0, 3, "a")
    with pytest.raises(ValueError, match="non-empty"):
        txn.multi_table_append(spark, [])
    with pytest.raises(ValueError, match="duplicate"):
        txn.multi_table_append(
            spark, [(a, _mk(spark, 3, 4, "a")), (a, _mk(spark, 4, 5, "a"))]
        )
    out = txn.multi_table_append(spark, [(a, _mk(spark, 3, 6, "a"))])
    assert out["txn"]
    assert _count(spark, a) == 6


def test_txn_preserves_partition_layout(spark, tmp_path):
    """A participant with a hive layout receives its txn rows INSIDE
    the key=value directories (pruning keeps working), never at the
    table root."""
    from pyspark.sql import functions as F

    from olive_spark.ops import txn

    a = str(tmp_path / "a")
    base = spark.range(0, 20).select(
        (F.col("id") % 2).alias("part"), F.col("id").alias("k")
    )
    base.write.format("olive").option("partitionBy", "part") \
        .mode("append").save(a)
    add = spark.range(20, 30).select(
        (F.col("id") % 2).alias("part"), F.col("id").alias("k")
    )
    txn.multi_table_append(spark, [(a, add)])
    assert _count(spark, a) == 30
    root_files = [f for f in os.listdir(a) if f.endswith(".olive")]
    assert root_files == []  # every txn file sits under part=…/
    got = (
        spark.read.format("olive").load(a)
        .filter(F.col("part") == 1).count()
    )
    assert got == 15


def test_vacuum_on_participant_respects_txn_interlock(spark, tmp_path):
    """r12 (ADVICE r11): the decision marker lives only in the
    COORDINATOR's _olive_txn/, so vacuum on a PARTICIPANT used to sweep
    a committed transaction's staged files as debris — permanently
    breaking the publish.  Now the staging-time coordinator pointer
    resolves the txn: committed → the participant's slice publishes
    here and now; prepared → untouched (the coordinator's rollback owns
    it); ownerless → swept only past the grace window."""
    import time as _time

    from olive_spark.ops import txn
    from olive_spark.ops.maintenance import vacuum

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 5, "b")

    # committed, crashed before publish — vacuum the PARTICIPANT first
    txn._CRASH_HOOKS["after_decide"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(
                spark,
                [(a, _mk(spark, 10, 20, "a")), (b, _mk(spark, 5, 9, "b"))],
            )
    finally:
        txn._CRASH_HOOKS.clear()
    out = vacuum(b)
    assert out["txn_staging_published"] >= 1
    assert _count(spark, b) == 9          # b's slice published, not swept
    assert _count(spark, a) == 10         # a still pending
    out = vacuum(a)                        # coordinator completes the rest
    assert _count(spark, a) == 20

    # prepared (undecided): participant vacuum must NOT touch it
    txn._CRASH_HOOKS["after_prepare"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(
                spark,
                [(a, _mk(spark, 20, 30, "a")), (b, _mk(spark, 9, 12, "b"))],
            )
    finally:
        txn._CRASH_HOOKS.clear()
    out = vacuum(b)
    assert out["txn_staging_skipped"] >= 1
    assert [f for f in os.listdir(b) if f.endswith(".staging")]
    vacuum(a)                              # coordinator rolls back
    assert not [f for f in os.listdir(b) if f.endswith(".staging")]
    assert _count(spark, a) == 20 and _count(spark, b) == 9

    # ownerless txn staging (no pointer, no marker): grace-gated sweep
    stray = os.path.join(b, "txn-deadbeef-00000.olive.staging")
    with open(stray, "wb") as f:
        f.write(b"x")
    out = vacuum(b)
    assert os.path.exists(stray)           # fresh: inside the grace window
    assert out["txn_staging_skipped"] >= 1
    old = _time.time() - 7200
    os.utime(stray, (old, old))
    out = vacuum(b)
    assert not os.path.exists(stray)       # aged out: swept
    assert out["staging_files"] >= 1


def test_vacuum_heals_txns_before_sweeping_staging(spark, tmp_path):
    """vacuum must COMPLETE a committed-but-unpublished transaction
    (never sweep its staged files as debris) and roll back a merely
    prepared one — then the .staging sweep finds nothing of either."""
    from olive_spark.ops import txn
    from olive_spark.ops.maintenance import vacuum

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 5, "b")
    txn._CRASH_HOOKS["after_decide"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(
                spark,
                [(a, _mk(spark, 10, 20, "a")), (b, _mk(spark, 5, 9, "b"))],
            )
    finally:
        txn._CRASH_HOOKS.clear()
    out = vacuum(a)
    assert out.get("txns", {}).get("completed") == 1
    assert _count(spark, a) == 20
    assert _count(spark, b) == 9
    # prepared (undecided) txn: vacuum rolls it back
    txn._CRASH_HOOKS["after_prepare"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(spark, [(a, _mk(spark, 20, 30, "a"))])
    finally:
        txn._CRASH_HOOKS.clear()
    out = vacuum(a)
    assert out.get("txns", {}).get("rolled_back") == 1
    assert _count(spark, a) == 20
    assert not [f for f in os.listdir(a) if f.endswith(".staging")]


def _vals(spark, path):
    return sorted(
        r["k"] for r in spark.read.format("olive").load(path).collect()
    )


def test_multi_table_txn_mutations_happy_path(spark, tmp_path):
    """r13 (VERDICT r12 task #2): one transaction mixing MERGE,
    DELETE, and APPEND slices — every table lands exactly one tagged
    snapshot entry, the merge's delete+insert legs share that entry,
    and the group root moves to the post state."""
    from olive_spark.format.snapshots import load_log
    from olive_spark.ops import txn

    a, b, c = (str(tmp_path / n) for n in "abc")
    _seed(spark, a, 0, 10, "a")       # merge target
    _seed(spark, b, 0, 20, "b")       # delete target
    _seed(spark, c, 0, 5, "c")        # append target
    src = _mk(spark, 5, 15, "new")    # upsert keys 5..14 (5..9 exist)
    out = txn.multi_table_txn(spark, [
        {"path": a, "op": "merge", "df": src, "keys": ["k"]},
        {"path": b, "op": "delete", "condition": "k % 4 = 0"},
        {"path": c, "op": "append", "df": _mk(spark, 5, 8, "c")},
    ])
    assert _vals(spark, a) == list(range(15))
    got_a = {
        r["k"]: r["v"]
        for r in spark.read.format("olive").load(a).collect()
    }
    assert got_a[7] == "new-7" and got_a[3] == "a-3"   # upserted vs kept
    assert _vals(spark, b) == [k for k in range(20) if k % 4 != 0]
    assert _count(spark, c) == 8
    assert out["rows_deleted"] == {
        os.path.abspath(a): 5, os.path.abspath(b): 5,
        os.path.abspath(c): 0,
    }
    tag = "txn-" + out["txn"]
    for p, op in ((a, "txn-merge"), (b, "txn-delete"), (c, "txn-append")):
        entries = [e for e in load_log(p)["entries"]
                   if e.get("tag") == tag]
        assert len(entries) == 1, p
        assert entries[0].get("op") == op
    # merge entry carries BOTH legs: added files and dv adds
    e = [e for e in load_log(a)["entries"] if e.get("tag") == tag][0]
    assert e["add"] and e.get("dv_add")
    # no staging debris anywhere
    for p in (a, b, c):
        assert not [
            f for r, _d, fs in os.walk(p) for f in fs
            if f.endswith(".staging")
        ], p
    # group root reflects the post state for all three
    vers = txn.group_versions(a)
    for p in (a, b, c):
        assert vers[os.path.abspath(p)] == out["tables"][os.path.abspath(p)]


@pytest.mark.parametrize("phase", [
    "mid_prepare", "after_prepare", "after_decide", "mid_publish",
    "after_root",
])
def test_txn_mutation_crash_matrix(spark, tmp_path, phase):
    """Crash-inject a MERGE+DELETE transaction at every protocol
    phase: pre-DECIDE crashes leave both tables byte-identical
    (rollback removes staged chunks AND staged DVs); post-DECIDE
    crashes complete idempotently via recovery."""
    from olive_spark.ops import txn

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 20, "b")
    pre_a, pre_b = _vals(spark, a), _vals(spark, b)
    txn._CRASH_HOOKS[phase] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_txn(spark, [
                {"path": a, "op": "merge",
                 "df": _mk(spark, 5, 15, "new"), "keys": ["k"]},
                {"path": b, "op": "delete", "condition": "k >= 15"},
            ])
    finally:
        txn._CRASH_HOOKS.clear()
    healed = txn.recover_txns(spark, a)
    if phase in ("mid_prepare", "after_prepare"):
        assert _vals(spark, a) == pre_a
        assert _vals(spark, b) == pre_b
        assert healed["completed"] == 0
    else:
        assert healed == {
            "rolled_back": 0,
            "completed": 0 if phase == "after_root" else 1,
        } or healed["completed"] <= 1
        assert _vals(spark, a) == list(range(15))
        assert _vals(spark, b) == list(range(15))
        # recovery is idempotent
        again = txn.recover_txns(spark, a)
        assert again == {"rolled_back": 0, "completed": 0}
        assert _vals(spark, a) == list(range(15))
    # never any staged leftovers after heal (chunks or DVs)
    for p in (a, b):
        assert not [
            f for r, _d, fs in os.walk(p) for f in fs
            if f.endswith(".staging")
        ], (phase, p)


def test_txn_mutation_group_cut_masks_torn_state(spark, tmp_path):
    """A transaction that crashed between the two publishes leaves a
    torn LIVE state (A mutated, B not) — scan_txn_group must serve
    the all-pre cut: the delete's DVs and the merge's inserts are
    invisible until the root swaps."""
    from olive_spark.ops import txn

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 20, "b")
    # one completed txn establishes the root
    txn.multi_table_txn(spark, [
        {"path": a, "op": "append", "df": _mk(spark, 10, 12, "a")},
        {"path": b, "op": "delete", "condition": "k = 19"},
    ])
    txn._CRASH_HOOKS["mid_publish"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_txn(spark, [
                {"path": a, "op": "merge",
                 "df": _mk(spark, 11, 14, "new"), "keys": ["k"]},
                {"path": b, "op": "delete", "condition": "k >= 10"},
            ])
    finally:
        txn._CRASH_HOOKS.clear()
    # live A already shows the merge, live B does not: torn
    assert _vals(spark, a) == list(range(14))
    assert _vals(spark, b) == list(range(19))
    # group cut: all-pre on BOTH
    ga = sorted(r["k"] for r in txn.scan_txn_group(spark, a, a).collect())
    gb = sorted(r["k"] for r in txn.scan_txn_group(spark, a, b).collect())
    assert ga == list(range(12))
    assert gb == list(range(19))
    # heal → all-post everywhere
    txn.recover_txns(spark, a)
    ga = sorted(r["k"] for r in txn.scan_txn_group(spark, a, a).collect())
    gb = sorted(r["k"] for r in txn.scan_txn_group(spark, a, b).collect())
    assert ga == list(range(14))
    assert gb == list(range(10))


def test_txn_merge_refuses_duplicate_source_keys(spark, tmp_path):
    from pyspark.sql import functions as F

    from olive_spark.ops import txn

    a = str(tmp_path / "a")
    _seed(spark, a, 0, 10, "a")
    dup = spark.range(0, 4).select(
        (F.col("id") % 2).alias("k"), F.lit("x").alias("v")
    )
    with pytest.raises(ValueError, match="duplicate key tuples"):
        txn.multi_table_txn(spark, [
            {"path": a, "op": "merge", "df": dup, "keys": ["k"]},
        ])
    assert _count(spark, a) == 10
    assert not [
        f for r, _d, fs in os.walk(a) for f in fs
        if f.endswith(".staging")
    ]


def test_vacuum_heals_mutation_txn_dv_staging(spark, tmp_path):
    """A committed-but-unpublished DELETE slice leaves txn-named DV
    staging sidecars on the participant; vacuum must resolve them
    through the coordinator pointer and PUBLISH (heal), never sweep."""
    from olive_spark.ops import txn
    from olive_spark.ops.maintenance import vacuum

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 20, "b")
    txn._CRASH_HOOKS["mid_publish"] = _boom   # A publishes, B does not
    try:
        with pytest.raises(Boom):
            txn.multi_table_txn(spark, [
                {"path": a, "op": "append", "df": _mk(spark, 10, 12, "a")},
                {"path": b, "op": "delete", "condition": "k >= 10"},
            ])
    finally:
        txn._CRASH_HOOKS.clear()
    assert _vals(spark, b) == list(range(20))   # delete not yet live
    staged = [
        f for r, _d, fs in os.walk(b) for f in fs
        if f.endswith(".dv.staging")
    ]
    assert staged and all(f.startswith("txn-") for f in staged)
    out = vacuum(b, txn_grace_seconds=0.0)
    assert out["txn_staging_published"] >= 1
    assert _vals(spark, b) == list(range(10))   # healed, delete live
    # coordinator marker still belongs to the coordinator's recovery
    txn.recover_txns(spark, a)
    assert _vals(spark, b) == list(range(10))


def test_compact_heals_committed_slice_before_rewrite(spark, tmp_path):
    """ADVICE r13: a compact on a participant between a coordinator
    crash and recover_txns must PUBLISH the committed delete slice
    before rewriting — otherwise the rewrite retires the DV targets and
    the committed DELETE silently evaporates at redo."""
    from olive_spark.ops.maintenance import compact

    _heals_committed_slice_before(
        spark, tmp_path, lambda b: compact(spark, b, target_rows=1 << 20)
    )


@pytest.mark.parametrize("verb", ["update_where", "replace_where"])
def test_rewriting_verbs_heal_committed_slice(spark, tmp_path, verb):
    """Every verb that retires files heals first, not only compact: a
    rewriting update or a whole-file replace between the crash and
    recover_txns would otherwise strand the committed delete, and the
    redo would refuse it as "no longer live"."""
    from olive_spark.ops import maintenance as M

    rewrite = {
        # SET leaves the key alone, so the healed table reads 0..9
        "update_where": lambda b: M.update_where(
            spark, b, {"v": "upper(v)"}, "k >= 0", mode="rewrite"
        ),
        # file-aligned: the healed file's live rows are exactly k < 10
        "replace_where": lambda b: M.replace_where(
            spark, b, _mk(spark, 0, 10, "b"), "k >= 0"
        ),
    }[verb]
    _heals_committed_slice_before(spark, tmp_path, rewrite)


def _heals_committed_slice_before(spark, tmp_path, rewrite):
    from olive_spark.ops import txn

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 20, "b")
    txn._CRASH_HOOKS["mid_publish"] = _boom   # A publishes, B does not
    try:
        with pytest.raises(Boom):
            txn.multi_table_txn(spark, [
                {"path": a, "op": "append", "df": _mk(spark, 10, 12, "a")},
                {"path": b, "op": "delete", "condition": "k >= 10"},
            ])
    finally:
        txn._CRASH_HOOKS.clear()
    assert _vals(spark, b) == list(range(20))   # delete not yet live
    # the dead coordinator's write lock on b is stealable; the rewrite
    # runs
    rewrite(b)
    # heal-before-rewrite: the committed delete is live, not lost
    assert _vals(spark, b) == list(range(10))
    # coordinator recovery finds the slice already published (idempotent)
    txn.recover_txns(spark, a)
    assert _vals(spark, b) == list(range(10))
    assert not [
        f for r, _d, fs in os.walk(b) for f in fs
        if f.endswith(".staging")
    ]


def test_publish_redo_refuses_dead_dv_targets(spark, tmp_path):
    """Defense-in-depth for the same hazard: if an out-of-band rewrite
    DID retire a committed slice's DV targets (heal bypassed — here by
    hiding the coordinator pointer), the redo must fail LOUD instead of
    publishing a delete leg whose positions reference dead files."""
    from olive_spark.ops import txn
    from olive_spark.ops.maintenance import compact

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _seed(spark, a, 0, 10, "a")
    _seed(spark, b, 0, 20, "b")
    txn._CRASH_HOOKS["mid_publish"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_txn(spark, [
                {"path": a, "op": "append", "df": _mk(spark, 10, 12, "a")},
                {"path": b, "op": "delete", "condition": "k >= 10"},
            ])
    finally:
        txn._CRASH_HOOKS.clear()
    # hide the pointer so compact's heal cannot resolve the slice, and
    # squirrel the staged DVs away across the rewrite — simulating a
    # pre-fix rewriter that neither heals nor sweeps the sidecar
    ptr_dir = os.path.join(b, "_olive_txn")
    hidden = {}
    for name in sorted(os.listdir(ptr_dir)):
        src = os.path.join(ptr_dir, name)
        hidden[name] = open(src).read()
        os.remove(src)
    dv_saved = {}
    for root, _d, fs in os.walk(os.path.join(b, "_olive_dv")):
        for f in fs:
            if f.endswith(".dv.staging"):
                p = os.path.join(root, f)
                dv_saved[p] = open(p, "rb").read()
    assert dv_saved
    compact(spark, b, target_rows=1 << 20)   # retires the DV targets
    for name, payload in hidden.items():
        with open(os.path.join(ptr_dir, name), "w") as f:
            f.write(payload)
    for p, blob in dv_saved.items():
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(blob)
    from olive_spark.format.errors import ValidationError

    # ValidationError, not OSError (ADVICE r14): the rewrite ops' heal
    # swallows OSError as "unreadable txn dir", so the deliberate
    # redo-safety refusal must carry a type that propagates there too
    with pytest.raises(ValidationError, match="no longer live"):
        txn.recover_txns(spark, a)
    # ...and the rewrite ops' own pre-scan heal surfaces the same
    # refusal instead of swallowing it and rewriting anyway (the exact
    # compact/delete/merge path the heal was added to protect)
    with pytest.raises(ValidationError, match="no longer live"):
        compact(spark, b, target_rows=1 << 20)
    # the table itself stays readable (delete lost loudly, not silently)
    assert _count(spark, b) == 20
