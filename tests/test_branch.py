"""Write-audit-publish branches (ops/branch.py): isolation of staged
rows from every live surface, branch-scan preview parity, the audit
gate, crash-safe publish, and branch lifecycle validation."""

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


def _mk(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _seed(spark, path, lo, hi):
    _mk(spark, lo, hi).coalesce(1).write.format("olive") \
        .mode("append").save(path)


def _live(spark, path):
    return spark.read.format("olive").load(path)


class Boom(RuntimeError):
    pass


def _boom():
    raise Boom()


def test_branch_rows_invisible_until_publish(spark, tmp_path):
    from olive_spark.format.snapshots import load_log
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 100)
    branch.create_branch(t, "audit1")
    branch.append_to_branch(
        spark, _mk(spark, 100, 150).coalesce(1), t, "audit1"
    )
    branch.append_to_branch(
        spark, _mk(spark, 150, 160).coalesce(1), t, "audit1"
    )
    # live scan, count, and time travel see NOTHING of the branch
    assert _live(spark, t).count() == 100
    v_before = max(int(e["v"]) for e in load_log(t)["entries"])
    # branch preview = base + staged
    assert branch.scan_branch(spark, t, "audit1").count() == 160
    out = branch.publish_branch(spark, t, "audit1")
    assert out["files_published"] == 2
    assert _live(spark, t).count() == 160
    # ONE new snapshot version, tagged
    log = load_log(t)["entries"]
    assert max(int(e["v"]) for e in log) == v_before + 1
    assert [e.get("tag") for e in log].count(out["tag"]) == 1
    # published rows are exactly the staged ones
    got = sorted(r["k"] for r in _live(spark, t).collect())
    assert got == list(range(160))
    # branch is gone
    from olive_spark.format.errors import ValidationError

    with pytest.raises(ValidationError, match="no branch"):
        branch.scan_branch(spark, t, "audit1")


def test_branch_preview_uses_base_dv_state(spark, tmp_path):
    """Live deletes made AFTER the branch base must not fold into the
    branch preview (the preview is what a publish of the BASE +
    branch rows would have served), while the publish itself lands on
    the CURRENT state — appends never conflict."""
    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import delete_where

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 100)
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 100, 110), t, "b")
    delete_where(spark, t, "k < 10", mode="dv")
    assert _live(spark, t).count() == 90
    assert branch.scan_branch(spark, t, "b").count() == 110  # base view
    branch.publish_branch(spark, t, "b")
    assert _live(spark, t).count() == 100  # 90 live + 10 branch rows


def test_audit_gate_refuses_and_keeps_branch(spark, tmp_path):
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 10, 20), t, "b")
    with pytest.raises(branch.BranchAuditError, match="k_bound"):
        branch.publish_branch(
            spark, t, "b",
            expect={"k_bound": "k < 15", "v_nonneg": "v >= 0"},
        )
    # refused: nothing visible, branch intact
    assert _live(spark, t).count() == 10
    assert branch.scan_branch(spark, t, "b").count() == 20
    # a passing audit publishes
    branch.publish_branch(
        spark, t, "b", expect={"k_bound": "k < 100", "v_nonneg": "v >= 0"}
    )
    assert _live(spark, t).count() == 20


def test_publish_crash_after_decide_recovers(spark, tmp_path):
    """Dying right after the decision marker: the branch rows are not
    yet live, and recovery (implicit in the next publish on the table,
    or explicit) completes the rename+commit exactly once."""
    from olive_spark.format.snapshots import load_log
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 10, 25), t, "b")
    branch._CRASH_HOOKS["after_decide"] = _boom
    try:
        with pytest.raises(Boom):
            branch.publish_branch(spark, t, "b")
    finally:
        branch._CRASH_HOOKS.clear()
    assert _live(spark, t).count() == 10
    healed = branch.recover_branch_publishes(t)
    assert healed == {"completed": 1}
    assert _live(spark, t).count() == 25
    tags = [e.get("tag") for e in load_log(t)["entries"] if e.get("tag")]
    assert len(tags) == len(set(tags))
    # healing again is a no-op
    assert branch.recover_branch_publishes(t) == {"completed": 0}


def test_publish_crash_mid_activate_recovers(spark, tmp_path):
    """Dying after the renames but before the snapshot entry: the
    half-published state is healed into exactly one commit (renames
    are skipped for already-final files, the entry lands once)."""
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 10, 30), t, "b")
    branch._CRASH_HOOKS["mid_activate"] = _boom
    try:
        with pytest.raises(Boom):
            branch.publish_branch(spark, t, "b")
    finally:
        branch._CRASH_HOOKS.clear()
    healed = branch.recover_branch_publishes(t)
    assert healed == {"completed": 1}
    assert _live(spark, t).count() == 30
    assert sorted(r["k"] for r in _live(spark, t).collect()) == list(range(30))


def test_branch_lifecycle_validation(spark, tmp_path):
    from olive_spark.format.errors import ValidationError
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 5)
    branch.create_branch(t, "b")
    with pytest.raises(ValidationError, match="already exists"):
        branch.create_branch(t, "b")
    for bad in ("", "_x", ".x", "a/b"):
        with pytest.raises(ValidationError, match="invalid branch name"):
            branch.create_branch(t, bad)
    branch.append_to_branch(spark, _mk(spark, 5, 8).coalesce(1), t, "b")
    out = branch.drop_branch(t, "b")
    assert out["files_dropped"] == 1
    assert _live(spark, t).count() == 5
    assert not os.path.exists(os.path.join(t, "_olive_branch", "b"))
    with pytest.raises(ValidationError, match="no branch"):
        branch.publish_branch(spark, t, "b")


def test_published_branch_files_keep_manifest_stats(spark, tmp_path):
    """Plan-time pruning must keep working on published branch files:
    the commit-time stats ride the ref and the publish marker into the
    stats manifest under the final names."""
    from olive_spark.format.manifest import load_manifest
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 10, 20), t, "b")
    out = branch.publish_branch(spark, t, "b")
    man = load_manifest(t)
    published = [n for n in man if n.startswith(out["tag"])]
    assert len(published) == out["files_published"], man.keys()
    assert sum(man[n].get("rows", 0) for n in published) == 10
    # per-file min/max stats survive the re-key → pruning keeps working
    assert all("columns" in man[n] for n in published)


def test_vacuum_completes_crashed_branch_publish(spark, tmp_path):
    """vacuum heals a decided-but-unfinished branch publish instead of
    leaving the marker (the staged files live under _olive_branch/, so
    the sweep can't hurt them — but the commit must land exactly
    once)."""
    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import vacuum

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 10, 18), t, "b")
    branch._CRASH_HOOKS["after_decide"] = _boom
    try:
        with pytest.raises(Boom):
            branch.publish_branch(spark, t, "b")
    finally:
        branch._CRASH_HOOKS.clear()
    out = vacuum(t)
    assert out.get("branch_publishes", {}).get("completed") == 1
    assert _live(spark, t).count() == 18


def test_describe_surfaces_branch_and_txn_state(spark, tmp_path):
    from olive_spark.ops import branch, txn
    from olive_spark.ops.maintenance import describe

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    assert "branches" not in describe(t)
    branch.create_branch(t, "exp1")
    branch.create_branch(t, "exp2")
    d = describe(t)
    assert d["branches"] == ["exp1", "exp2"]
    # a crashed txn leaves a visible pending marker
    txn._CRASH_HOOKS["after_prepare"] = _boom
    try:
        with pytest.raises(Boom):
            txn.multi_table_append(spark, [(t, _mk(spark, 10, 12))])
    finally:
        txn._CRASH_HOOKS.clear()
    assert describe(t)["pending_txns"] == 1
    txn.recover_txns(None, t)
    assert "pending_txns" not in describe(t)


def test_branch_on_partitioned_table_preserves_layout(spark, tmp_path):
    """Branch appends on a hive-partitioned table stage under the
    partition subpath and publish INTO the key=value dirs — never a
    flat root file (the layout-poisoning hazard) — and partition
    pruning keeps working on the published rows, including a partition
    value the base table had never seen."""
    from pyspark.sql import functions as F

    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    base = spark.range(0, 20).select(
        (F.col("id") % 2).alias("part"), F.col("id").alias("k")
    )
    base.write.format("olive").option("partitionBy", "part") \
        .mode("append").save(t)
    branch.create_branch(t, "b")
    add = spark.range(20, 30).select(
        (F.col("id") % 3 + 2).alias("part"),  # incl. NEW partitions 2..4
        F.col("id").alias("k"),
    )
    branch.append_to_branch(spark, add, t, "b")
    assert _live(spark, t).count() == 20
    assert branch.scan_branch(spark, t, "b").count() == 30
    branch.publish_branch(spark, t, "b")
    assert _live(spark, t).count() == 30
    # no flat root files; published rows sit under part=…/
    root_files = [f for f in os.listdir(t) if f.endswith(".olive")]
    assert root_files == []
    assert os.path.isdir(os.path.join(t, "part=2"))
    got = (
        spark.read.format("olive").load(t)
        .filter(F.col("part") == 2).count()
    )
    assert got == sum(1 for i in range(20, 30) if i % 3 == 0)


def test_branch_reader_option_equals_scan_branch(spark, tmp_path):
    """.option('branch', name) is the first-class form of scan_branch:
    same rows (base + staged, base DV state), resolved at plan time;
    exclusive with snapshot/files/dvs options; unknown branches fail
    loud."""
    from olive_spark.format.errors import ValidationError
    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import delete_where

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 50)
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 50, 60), t, "b")
    delete_where(spark, t, "k < 5", mode="dv")  # post-base live delete
    via_opt = (
        spark.read.format("olive").option("branch", "b").load(t)
    )
    want = sorted(r["k"] for r in branch.scan_branch(spark, t, "b").collect())
    got = sorted(r["k"] for r in via_opt.collect())
    assert got == want == list(range(60))  # base view: delete not folded
    with pytest.raises(Exception, match="exclusive"):
        (
            spark.read.format("olive").option("branch", "b")
            .option("snapshot", "1").load(t).count()
        )
    with pytest.raises((ValidationError, Exception), match="no branch"):
        (
            spark.read.format("olive").option("branch", "nope")
            .load(t).count()
        )


def test_branch_vacuum_interleave_model(spark, tmp_path):
    """r12 verdict task #8: random interleavings of branch-create /
    append / publish / drop with vacuum and crash injection, checked
    against a row-set model.  The invariant under every schedule: a
    COMMITTED publish (decision marker written) is never swept — its
    rows always reach the live table exactly once, whether the publish
    completed, crashed at the decision, or crashed mid-activation and
    was healed by a later vacuum; an UNDECIDED branch's rows never
    appear.  Fixed-ordering tests cover each crash point once; this
    covers their compositions."""
    import random

    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import vacuum

    rng = random.Random(1212)
    for trial in range(2):
        t = str(tmp_path / f"t{trial}")
        _seed(spark, t, 0, 10)
        live = set(range(10))          # model of committed row keys
        staged: "list[tuple[int, int]]" = []
        nxt = 10
        has_branch = False
        pending_heal = False           # a decided publish awaits heal
        deleted: set = set()       # branch-staged deletes not yet live
        for step in range(10):
            op = rng.choice(
                ["live_append", "branch_append", "publish", "vacuum",
                 "publish_crash", "drop", "branch_delete"]
            )
            if op == "live_append":
                _seed(spark, t, nxt, nxt + 5)
                live |= set(range(nxt, nxt + 5))
                nxt += 5
            elif op == "branch_delete" and has_branch and not pending_heal:
                # delete one known branch-view row (staged or base)
                pool = sorted(
                    ({k for lo, hi in staged for k in range(lo, hi)}
                     | live) - deleted
                )
                if pool:
                    victim = rng.choice(pool)
                    from olive_spark.ops.branch import delete_on_branch

                    out = delete_on_branch(spark, t, "b", f"k = {victim}")
                    assert out["rows_deleted"] == 1, (trial, step, victim)
                    deleted.add(victim)
            elif op == "branch_append":
                if not has_branch:
                    branch.create_branch(t, "b")
                    has_branch = True
                branch.append_to_branch(spark, _mk(spark, nxt, nxt + 5), t, "b")
                staged.append((nxt, nxt + 5))
                nxt += 5
            elif op == "publish" and has_branch and not pending_heal:
                branch.publish_branch(spark, t, "b")
                live |= {k for lo, hi in staged for k in range(lo, hi)}
                live -= deleted        # branch DVs fold into the commit
                staged, has_branch, deleted = [], False, set()
            elif op == "publish_crash" and has_branch and staged \
                    and not pending_heal:
                phase = rng.choice(["after_decide", "mid_activate"])
                branch._CRASH_HOOKS[phase] = _boom
                try:
                    with pytest.raises(Boom):
                        branch.publish_branch(spark, t, "b")
                finally:
                    branch._CRASH_HOOKS.clear()
                # DECIDED: the rows AND the branch deletes are
                # committed; heal must land both
                live |= {k for lo, hi in staged for k in range(lo, hi)}
                live -= deleted
                staged, has_branch, deleted = [], False, set()
                pending_heal = True
            elif op == "vacuum":
                vacuum(t)              # heals any decided publish first
                pending_heal = False
            elif op == "drop" and has_branch and not pending_heal:
                branch.drop_branch(t, "b")
                staged, has_branch, deleted = [], False, set()
        vacuum(t)                      # final heal + sweep
        got = sorted(r["k"] for r in _live(spark, t).collect())
        assert got == sorted(live), (trial, step)


def test_delete_on_branch_full_lifecycle(spark, tmp_path):
    """WAP phase 2 (r12 verdict task #3): write → audit → fix-via-
    delete → publish.  Deletes staged on the branch fold into every
    branch preview (both scan_branch and the reader option), stay
    invisible to live scans, and publish lands them as ONE commit —
    branch-file DVs re-keyed to the published names, base-file DVs as
    live DV entries; pre-publish time travel still shows the base."""
    from olive_spark.format.snapshots import current_version, load_log
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 50)
    v_base = current_version(t)
    branch.create_branch(t, "fix")
    branch.append_to_branch(spark, _mk(spark, 50, 60), t, "fix")
    # audit found bad rows in BOTH the staged batch and the base
    out = branch.delete_on_branch(spark, t, "fix", "k >= 57")   # staged
    assert out["rows_deleted"] == 3
    out = branch.delete_on_branch(spark, t, "fix", "k < 4")     # base
    assert out["rows_deleted"] == 4
    want = list(range(4, 57))
    got = sorted(r["k"] for r in branch.scan_branch(spark, t, "fix").collect())
    assert got == want
    via_opt = (
        spark.read.format("olive").option("branch", "fix").load(t)
    )
    assert sorted(r["k"] for r in via_opt.collect()) == want
    # live scans never see branch DVs
    assert sorted(r["k"] for r in _live(spark, t).collect()) == list(range(50))
    # re-deletes compose (existing branch DVs fold into the next scan)
    out = branch.delete_on_branch(spark, t, "fix", "k < 4")
    assert out["rows_deleted"] == 0
    # publish = one commit; live == the preview
    pub = branch.publish_branch(spark, t, "fix")
    assert pub["files_published"] >= 1
    assert sorted(r["k"] for r in _live(spark, t).collect()) == want
    ent = load_log(t)["entries"][-1]
    assert ent.get("tag") == pub["tag"] and ent.get("dv_add")
    # pre-publish snapshot unaffected
    pre = (
        spark.read.format("olive").option("snapshot", str(v_base)).load(t)
    )
    assert pre.count() == 50
    assert not os.path.isdir(os.path.join(t, "_olive_branch", "fix"))


def test_merge_on_branch_upsert(spark, tmp_path):
    """merge_on_branch stages a delete-and-insert upsert: branch-view
    rows matching the source keys are DV-deleted, the source appends;
    publish lands the whole upsert as one live commit."""
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)                   # v = k*10
    branch.create_branch(t, "up")
    from pyspark.sql import functions as F

    src = spark.range(5, 15).select(
        F.col("id").alias("k"), (F.col("id") * 1000).alias("v")
    )
    out = branch.merge_on_branch(spark, src, t, "up", keys=["k"])
    assert out["rows_matched_deleted"] == 5  # keys 5..9 existed
    assert out["files_added"] >= 1
    prev = {
        r["k"]: r["v"]
        for r in branch.scan_branch(spark, t, "up").collect()
    }
    assert len(prev) == 15
    assert prev[3] == 30 and prev[7] == 7000 and prev[14] == 14000
    # live untouched until publish
    assert {r["k"]: r["v"] for r in _live(spark, t).collect()}[7] == 70
    branch.publish_branch(spark, t, "up")
    live = {r["k"]: r["v"] for r in _live(spark, t).collect()}
    assert live == prev


def test_branch_delete_publish_crash_recovers(spark, tmp_path):
    """Crash-injected at the decision point with DV moves in the
    marker: recovery must land chunk renames AND the DV publication
    idempotently — deleted rows stay deleted, exactly one tagged
    entry."""
    from olive_spark.format.snapshots import load_log
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 20)
    branch.create_branch(t, "fx")
    branch.append_to_branch(spark, _mk(spark, 20, 30), t, "fx")
    branch.delete_on_branch(spark, t, "fx", "k IN (2, 25)")
    branch._CRASH_HOOKS["after_decide"] = _boom
    try:
        with pytest.raises(Boom):
            branch.publish_branch(spark, t, "fx")
    finally:
        branch._CRASH_HOOKS.clear()
    assert _live(spark, t).count() == 20          # nothing live yet
    healed = branch.recover_branch_publishes(t)
    assert healed["completed"] == 1
    got = sorted(r["k"] for r in _live(spark, t).collect())
    assert got == sorted(set(range(30)) - {2, 25})
    tags = [e.get("tag") for e in load_log(t)["entries"] if e.get("tag")]
    assert len(tags) == len(set(tags))
    # redo on the healed state is a no-op
    assert branch.recover_branch_publishes(t) == {"completed": 0}


def test_branch_base_rewrite_conflicts_at_publish(spark, tmp_path):
    """A base-file DV whose target was REWRITTEN (compact) between
    staging and publish refuses the publish loudly — positions don't
    rebase across a row-grid rewrite (the Iceberg validation rule);
    the branch stays intact for a re-apply."""
    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import compact

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    _seed(spark, t, 10, 20)                  # two files so compact acts
    branch.create_branch(t, "fx")
    branch.delete_on_branch(spark, t, "fx", "k = 3")
    # rewrites the base files (history retained so the branch's pinned
    # base stays readable — a compact without retention would break the
    # preview too, which is the same conflict told earlier)
    compact(spark, t, retain_history=True)
    with pytest.raises(branch.BranchAuditError, match="rewritten"):
        branch.publish_branch(spark, t, "fx")
    # branch intact — preview still serves the staged delete
    got = sorted(r["k"] for r in branch.scan_branch(spark, t, "fx").collect())
    assert 3 not in got and len(got) == 19


def test_branch_mutation_on_partitioned_table(spark, tmp_path):
    """Branch deletes on a hive-partitioned table: DV targets carry the
    key=value subpath (both base files and branch-staged files), the
    publish re-keys branch-file DVs into the published partition
    subdirs, and partition pruning on the published table still
    works."""
    from pyspark.sql import functions as F

    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    base = spark.range(0, 40).select(
        (F.col("id") % 2).alias("part"), F.col("id").alias("k")
    )
    base.write.format("olive").option("partitionBy", "part") \
        .mode("append").save(t)
    branch.create_branch(t, "fx")
    add = spark.range(40, 60).select(
        (F.col("id") % 2).alias("part"), F.col("id").alias("k")
    )
    branch.append_to_branch(spark, add, t, "fx")
    out = branch.delete_on_branch(spark, t, "fx", "k IN (3, 45)")
    assert out["rows_deleted"] == 2
    want = sorted(set(range(60)) - {3, 45})
    got = sorted(r["k"] for r in branch.scan_branch(spark, t, "fx").collect())
    assert got == want
    branch.publish_branch(spark, t, "fx")
    live = spark.read.format("olive").load(t)
    assert sorted(r["k"] for r in live.collect()) == want
    # no chunk files at the table root; DVs live under _olive_dv with
    # partitioned target rels
    assert not [f for f in os.listdir(t) if f.endswith(".olive")]
    from olive_spark.format.deletion import list_dvs

    targets = list(list_dvs(t))
    assert targets and all("part=" in tgt for tgt in targets), targets
    # partition pruning still live on the published table
    assert live.filter(F.col("part") == 0).count() == len(
        [k for k in want if k % 2 == 0]
    )


def test_dv_only_branch_publish(spark, tmp_path):
    """A branch holding ONLY deletes (no appended files) publishes as a
    pure DV commit — it is not mistaken for an empty branch drop."""
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 12)
    branch.create_branch(t, "delonly")
    out = branch.delete_on_branch(spark, t, "delonly", "k % 3 = 0")
    assert out["rows_deleted"] == 4
    pub = branch.publish_branch(spark, t, "delonly")
    assert pub["tag"] is not None and pub["files_published"] == 0
    got = sorted(r["k"] for r in _live(spark, t).collect())
    assert got == [k for k in range(12) if k % 3 != 0]


def test_publish_concurrent_append_survives(spark, tmp_path):
    """r12 (ADVICE r11): an append_to_branch that lands between the
    publish's decision marker and its activation must NOT be silently
    deleted — the publish activates only its marker-listed files, and
    the branch ref is re-created around the late files (re-based on
    the just-published version).  Injected at the exact interleave via
    the after_decide seam; a second publish then lands the late rows."""
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 50)
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 50, 60), t, "b")

    def late_append():
        branch._CRASH_HOOKS.clear()  # only once
        branch.append_to_branch(spark, _mk(spark, 60, 70), t, "b")

    branch._CRASH_HOOKS["after_decide"] = late_append
    try:
        out = branch.publish_branch(spark, t, "b")
    finally:
        branch._CRASH_HOOKS.clear()
    assert out["files_published"] >= 1
    live = sorted(r["k"] for r in _live(spark, t).collect())
    assert live == list(range(60))          # late rows NOT published yet
    # the branch survives with exactly the late files, re-based
    ref = branch._load_ref(t, "b")
    assert ref["files"], "late append was deleted by publish cleanup"
    preview = sorted(
        r["k"] for r in branch.scan_branch(spark, t, "b").collect()
    )
    assert preview == list(range(70))       # published base + late rows
    out2 = branch.publish_branch(spark, t, "b")
    assert out2["files_published"] >= 1
    assert sorted(r["k"] for r in _live(spark, t).collect()) == list(range(70))


def test_record_after_branch_gone_fails_loud(spark, tmp_path):
    """A recorder whose branch was fully published (ref gone) must
    clean its staged copies and raise — never return success for files
    that will not be read."""
    import pytest as _pytest

    from olive_spark.format.errors import ValidationError
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 10, 20), t, "b")
    branch.publish_branch(spark, t, "b")  # branch fully gone
    bdir = os.path.join(t, "_olive_branch", "b")
    os.makedirs(bdir, exist_ok=True)
    stray = os.path.join(bdir, "b-zz-00000.olive")
    with open(stray, "wb") as f:
        f.write(b"x")
    with _pytest.raises(ValidationError, match="published"):
        branch._record_branch_files(t, "b", ["b-zz-00000.olive"], {})
    assert not os.path.exists(stray)


def test_branch_option_schema_sees_branch_only_state(spark, tmp_path):
    """r12 (ADVICE r11): OliveDataSource.schema() must resolve the
    'branch' option like the reader does.  A branch over an EMPTY live
    table previously inferred schema from the live listing (empty →
    files[:1] on an empty list → no columns); now the branch's staged
    files drive inference, so the preview has the staged schema and
    rows."""
    from olive_spark.format.snapshots import ensure_seeded
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    os.makedirs(t)
    ensure_seeded(t, files=[])
    branch.create_branch(t, "b")
    branch.append_to_branch(spark, _mk(spark, 0, 10), t, "b")
    df = spark.read.format("olive").option("branch", "b").load(t)
    assert [f.name for f in df.schema.fields] == ["k", "v"]
    assert sorted(r["k"] for r in df.collect()) == list(range(10))


def test_publish_empty_branch_is_a_drop(spark, tmp_path):
    """Publishing a branch with nothing staged drops it without
    writing an empty snapshot commit."""
    from olive_spark.format.snapshots import current_version
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 5)
    v0 = current_version(t)
    branch.create_branch(t, "empty")
    out = branch.publish_branch(spark, t, "empty")
    assert out == {"branch": "empty", "tag": None, "files_published": 0}
    assert current_version(t) == v0
    assert not os.path.exists(os.path.join(t, "_olive_branch", "empty"))


def test_branch_on_column_mapped_table(spark, tmp_path):
    """Branch appends on a table with ACTIVE column-mapping ids (post
    rename) stamp field ids into the staged files, so published rows
    resolve by id alongside the pre-rename files — the rename is
    invisible to the merged scan."""
    from pyspark.sql import functions as F

    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import rename_column

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)  # columns: k, v
    rename_column(t, "v", "val")
    branch.create_branch(t, "b")
    add = spark.range(10, 15).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    branch.append_to_branch(spark, add, t, "b")
    assert branch.scan_branch(spark, t, "b").count() == 15
    branch.publish_branch(spark, t, "b")
    got = {
        r["k"]: r["val"]
        for r in spark.read.format("olive").load(t).collect()
    }
    assert got == {i: i * 10 for i in range(15)}
    # a second rename after the publish still resolves the branch rows
    rename_column(t, "val", "value2")
    got2 = sorted(
        r["value2"] for r in spark.read.format("olive").load(t).collect()
    )
    assert got2 == [i * 10 for i in range(15)]


def test_delete_only_branch_publish_with_expect(spark, tmp_path):
    """r13 (ADVICE r12): publish_branch with an expect= audit on a
    DELETE-ONLY branch (no staged files, branch DVs present) must not
    build an empty-file-list scan — there are zero branch rows to
    audit, so the gate vacuously holds and the deletes publish."""
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 12)
    branch.create_branch(t, "delaud")
    out = branch.delete_on_branch(spark, t, "delaud", "k % 3 = 0")
    assert out["rows_deleted"] == 4
    pub = branch.publish_branch(
        spark, t, "delaud", expect={"v_nonneg": "v >= 0"}
    )
    assert pub["tag"] is not None and pub["files_published"] == 0
    got = sorted(r["k"] for r in _live(spark, t).collect())
    assert got == [k for k in range(12) if k % 3 != 0]


def test_merge_on_branch_refuses_duplicate_source_keys(spark, tmp_path):
    """r13 (ADVICE r12): a source with duplicate key tuples is refused
    (standard MERGE semantics) instead of silently fanning out the
    insert leg; the branch stays untouched."""
    from pyspark.sql import functions as F

    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    branch.create_branch(t, "dupsrc")
    dup = spark.range(0, 6).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 100).alias("v")
    )  # keys 0,1,2 each appear twice
    with pytest.raises(ValueError, match="duplicate key tuples"):
        branch.merge_on_branch(spark, dup, t, "dupsrc", keys=["k"])
    # branch untouched: preview still equals the base
    assert branch.scan_branch(spark, t, "dupsrc").count() == 10


def test_rebase_branch_after_compact_then_publish(spark, tmp_path):
    """r13 (VERDICT r12 task #4): a branch delete whose base files were
    compacted away re-keys through rebase_branch — the default publish
    still refuses, publish(rebase=True) lands the delete on the
    rewritten row grid."""
    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import compact

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    _seed(spark, t, 10, 20)
    branch.create_branch(t, "fx")
    out = branch.delete_on_branch(spark, t, "fx", "k IN (3, 7, 15)")
    assert out["rows_deleted"] == 3
    compact(spark, t, retain_history=True)
    with pytest.raises(branch.BranchAuditError, match="rewritten"):
        branch.publish_branch(spark, t, "fx")
    pub = branch.publish_branch(spark, t, "fx", rebase=True)
    assert pub["tag"] is not None
    got = sorted(r["k"] for r in _live(spark, t).collect())
    assert got == [k for k in range(20) if k not in (3, 7, 15)]


def test_rebase_branch_duplicate_rows_count_correct(spark, tmp_path):
    """The content bridge pairs duplicate rows by per-key occurrence
    rank: a branch that deleted ONE copy of a duplicated row still
    deletes exactly one copy after the rewrite."""
    from pyspark.sql import functions as F

    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import compact

    t = str(tmp_path / "t")
    # three identical (k=1, v=10) rows + distinct fillers, two files
    df1 = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 20)], ["k", "v"])
    df2 = spark.createDataFrame(
        [(1, 10), (3, 30), (4, 40)], ["k", "v"])
    df1.coalesce(1).write.format("olive").mode("append").save(t)
    df2.coalesce(1).write.format("olive").mode("append").save(t)
    branch.create_branch(t, "dup")
    # delete exactly the two copies living in file 1 (positions 0,1)
    from olive_spark.datasource import register_olive

    register_olive(spark)
    fc, pc = "_olive_file", "_olive_pos"
    first_file = sorted(
        r[fc] for r in spark.read.format("olive")
        .option("fileColumn", fc).load(t).select(fc).distinct().collect()
    )[0]
    scan = (
        spark.read.format("olive").option("fileColumn", fc)
        .option("posColumn", pc).load(t)
    )
    matched = scan.filter(
        (F.col(fc) == first_file) & (F.col("k") == 1)
    ).select(fc, pc)
    from olive_spark.ops.branch import _branch_dv_dir, _record_branch_dvs
    from olive_spark.ops.maintenance import _stage_dvs

    staged = _stage_dvs(spark, t, "data", matched, "r0", "dv", 0.0,
                        dv_dir=_branch_dv_dir("dup"))
    assert sum(n for _t, _d, n in staged) == 2
    _record_branch_dvs(t, "dup", staged)
    compact(spark, t, retain_history=True)
    out = branch.rebase_branch(spark, t, "dup")
    assert out["rows_rebased"] == 2 and out["rows_already_gone"] == 0
    branch.publish_branch(spark, t, "dup")
    rows = sorted(
        (r["k"], r["v"]) for r in _live(spark, t).collect()
    )
    assert rows == [(1, 10), (2, 20), (3, 30), (4, 40)]


def test_rebase_branch_drops_already_gone_rows(spark, tmp_path):
    """Rows the branch deleted that a concurrent live delete_where
    ALSO removed rebase to nothing — reported as already-gone, the
    rest of the branch delete lands."""
    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import delete_where

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 12)
    branch.create_branch(t, "fx")
    branch.delete_on_branch(spark, t, "fx", "k IN (2, 5, 9)")
    # concurrent live delete removes k=5 (rewrite mode forces the
    # file swap, so the branch DV target vanishes)
    delete_where(spark, t, "k = 5", mode="rewrite", retain_history=True)
    out = branch.rebase_branch(spark, t, "fx")
    assert out["rows_rebased"] == 2
    assert out["rows_already_gone"] == 1
    branch.publish_branch(spark, t, "fx")
    got = sorted(r["k"] for r in _live(spark, t).collect())
    assert got == [k for k in range(12) if k not in (2, 5, 9)]


def test_rebase_branch_crash_before_record_is_redoable(spark, tmp_path):
    """Crash after staging the re-keyed DVs but BEFORE the ref RMW:
    the ref still holds the stale conflicted records (publish still
    refuses), the staged blobs are unrecorded debris, and a re-run
    rebase completes cleanly."""
    from olive_spark.ops import branch
    from olive_spark.ops.maintenance import compact

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 10)
    _seed(spark, t, 10, 20)
    branch.create_branch(t, "fx")
    branch.delete_on_branch(spark, t, "fx", "k IN (4, 14)")
    compact(spark, t, retain_history=True)

    class Boom(RuntimeError):
        pass

    def _boom():
        raise Boom()

    branch._CRASH_HOOKS["rebase_staged"] = _boom
    try:
        with pytest.raises(Boom):
            branch.rebase_branch(spark, t, "fx")
    finally:
        branch._CRASH_HOOKS.clear()
    with pytest.raises(branch.BranchAuditError, match="rewritten"):
        branch.publish_branch(spark, t, "fx")
    out = branch.rebase_branch(spark, t, "fx")
    assert out["rows_rebased"] == 2
    branch.publish_branch(spark, t, "fx")
    got = sorted(r["k"] for r in _live(spark, t).collect())
    assert got == [k for k in range(20) if k not in (4, 14)]


def test_branch_dvs_recorded_under_old_blob_name_still_publish(
    spark, tmp_path
):
    """Branches staged before branch deletes went through the table's
    DV stager recorded their blobs as ``_olive_branch/<name>/_dv/
    <run>-<key>.dv``.  Preview and publish go by the name the ref
    records, so such a branch still previews and publishes."""
    import hashlib

    import numpy as np

    from olive_spark.format.deletion import encode_dv
    from olive_spark.ops import branch

    t = str(tmp_path / "t")
    _seed(spark, t, 0, 20)
    branch.create_branch(t, "old")
    branch.append_to_branch(spark, _mk(spark, 20, 30), t, "old")
    fc, pc = "_olive_file", "_olive_pos"
    hits = (
        branch._branch_view(
            spark, t, "old", branch._load_ref(t, "old"), tagged=True
        ).filter("k IN (3, 25)").select(fc, pc).collect()
    )
    by_file: dict = {}
    for r in hits:
        by_file.setdefault(r[fc], []).append(r[pc])
    assert len(by_file) == 2  # one base file, one branch-staged file
    ref = branch._load_ref(t, "old")
    ref["dvs"] = {}
    for rel, pos in by_file.items():
        key = hashlib.sha1(rel.encode()).hexdigest()[:12]
        dv_rel = os.path.join("_olive_branch", "old", "_dv", f"r0-{key}.dv")
        os.makedirs(os.path.dirname(os.path.join(t, dv_rel)), exist_ok=True)
        with open(os.path.join(t, dv_rel), "wb") as f:
            f.write(encode_dv(np.asarray(pos, np.uint64), table="data"))
        ref["dvs"][rel] = [dv_rel]
    branch._write_ref(t, "old", ref)
    want = [k for k in range(30) if k not in (3, 25)]
    got = sorted(r["k"] for r in branch.scan_branch(spark, t, "old").collect())
    assert got == want
    assert sorted(r["k"] for r in _live(spark, t).collect()) == list(range(20))
    branch.publish_branch(spark, t, "old")
    assert sorted(r["k"] for r in _live(spark, t).collect()) == want
    assert not os.path.isdir(os.path.join(t, "_olive_branch", "old"))
