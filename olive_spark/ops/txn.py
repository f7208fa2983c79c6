"""Multi-table atomic transactions over snapshot-logged olive tables.

The reference format is a single-file serialization library
(/root/reference/src/root.zig:9-16 — no versioning, no transactions);
this module extends the engine's lakehouse layer with the one commit
shape neither Delta nor vanilla Iceberg offers without an external
catalog: ONE logical commit spanning SEVERAL tables, all-or-nothing.

Protocol — two-phase commit with a coordinator decision marker, the
generalization of ops/bloom_index.ingest_with_bloom_index's
corpus+index pattern (r11 verdict task #4) to arbitrary writes where
no idempotent-redo trick (Bloom OR) is available:

1. PREPARE  — every participant's rows are written to a sibling temp
   dir and staged into its live table under inert non-``.olive`` names
   (invisible to every scan, same trick as ``_rewrite_and_swap``);
   per-file commit-time stats ride along into the marker so redo never
   recomputes them.
2. DECIDE   — the coordinator marker (``_olive_txn/<id>.prepared.json``
   in the FIRST table's directory) is atomically renamed to
   ``<id>.commit.json``.  This single ``os.replace`` IS the commit
   point.
3. PUBLISH  — per participant, under that table's metadata COMMIT
   lock: staged files activate via rename, the stats manifest merges,
   and one snapshot-log entry tagged ``txn-<id>`` records the append.
   Publishes are idempotent (the tag is checked first), so redo after
   a crash is safe.
4. ROOT     — the coordinator's table-group root pointer
   (``_olive_txn/_root.json``) is atomically swapped to the new
   per-table versions (the Iceberg-catalog / Delta commit-coordinator
   move, r12 verdict task #2).
5. FORGET   — the marker is removed.

Crash matrix (exercised with real subprocesses in tests/test_txn.py):
  before DECIDE  → recovery rolls back: staged files deleted, marker
                   dropped, NOTHING visible in any table;
  after DECIDE   → recovery re-publishes every participant whose
                   snapshot log lacks the txn tag, then drops the
                   marker: EVERYTHING visible exactly once.

Isolation: a LIVE scan between two PUBLISH steps can observe table A
updated while table B is not yet (the same bound Delta documents for
its multi-table story).  Readers that need a consistent cross-table
cut opt into the GROUP via :func:`scan_txn_group` (or resolve
versions with :func:`group_versions`): versions come from the root
pointer, which moves in ONE ``os.replace`` strictly after every
participant published — so an opted-in reader sees all-pre or
all-post, never a mix, whatever instant it reads at (pinned by a
mid-publish subprocess in tests/test_txn.py).  Durability/atomicity
are full either way: after recovery the tables always agree.

Scale shape: staging cost is the writes themselves (executor-parallel
through the normal DSv2 writer, layout-preserving on partitioned
tables); DECIDE and PUBLISH are O(files) driver-side renames + one
JSON append per table under the existing metadata micro-lock — no
Spark job, no table scan, independent of table size.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

_TXN_DIR = "_olive_txn"

# test seam (same pattern as ops/bloom_index._CRASH_HOOKS): phase name
# -> callable, injected by crash tests to die at exact protocol points
_CRASH_HOOKS: dict = {}


def _crash_point(phase: str) -> None:
    hook = _CRASH_HOOKS.get(phase)
    if hook is not None:
        hook()


def _txn_dir(coordinator: str) -> str:
    return os.path.join(coordinator, _TXN_DIR)


def _drop_coord_ptr(path: str, txn_id: str, coordinator: str) -> None:
    """Record the participant-side pointer to the coordinator BEFORE
    any staged artifact lands (r12, ADVICE r11): the decision marker
    lives only in the coordinator's ``_olive_txn/``, so without the
    pointer a participant-side ``vacuum`` cannot tell a committed
    transaction's staged files from pre-PREPARE debris."""
    pdir = _txn_dir(path)
    os.makedirs(pdir, exist_ok=True)
    ptr = os.path.join(pdir, f"{txn_id}.coord.json")
    with open(ptr + ".tmp", "w") as f:
        json.dump({"coordinator": os.path.abspath(coordinator)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(ptr + ".tmp", ptr)


def _stage_one(
    spark, path: str, df, table: str, txn_id: str,
    coordinator: "str | None" = None,
) -> dict:
    """PREPARE one participant: write ``df`` through the normal olive
    writer into a sibling temp dir (layout/field-id aware), then move
    every produced chunk file into the live table as
    ``txn-<id>-NNNNN.olive.staging`` — inert until PUBLISH renames the
    suffix away.  Returns the participant record for the marker.

    A pointer file ``_olive_txn/<id>.coord.json`` is dropped in the
    PARTICIPANT before any staged file lands (r12, ADVICE r11): the
    decision marker lives only in the coordinator's ``_olive_txn/``,
    so without the pointer a ``vacuum`` on a participant cannot tell a
    committed transaction's staged files (the only copy — sweeping
    them permanently breaks the publish) from pre-PREPARE debris."""
    from olive_spark.datasource.olive_datasource import _list_chunk_files
    from olive_spark.format.manifest import load_manifest
    from olive_spark.format.table_schema import read_column_mapping
    from olive_spark.ops.maintenance import _partition_layout

    if coordinator is not None:
        _drop_coord_ptr(path, txn_id, coordinator)
    tmp = f"{path}.txn-{txn_id}"
    layout = _partition_layout(path) if os.path.isdir(path) else None
    w = df.write.format("olive").option("table", table)
    cm = read_column_mapping(path, table) if os.path.isdir(path) else None
    if cm is not None:
        # mapped table: the temp dir has no sidecar, so ids must be
        # passed or the staged files land unstamped (see
        # _rewrite_and_swap's identical block)
        ids = dict(zip(cm["names"], cm["fids"]))
        missing = [c for c in df.columns if c not in ids]
        if missing:
            from olive_spark.format.table_schema import reserve_field_ids

            ids.update(reserve_field_ids(path, table, missing))
        w = w.option("fieldIds", json.dumps(ids))
    if layout:
        w = w.option("partitionBy", layout["spec"])
    w.mode("append").save(tmp)
    tmp_stats = load_manifest(tmp)
    finals: list[str] = []
    stats: dict = {}
    for i, f in enumerate(sorted(_list_chunk_files(tmp))):
        rel = os.path.relpath(f, tmp)
        sub = os.path.dirname(rel)
        if not sub and layout:
            # zero-row schema sentinel from a partitioned write: park it
            # under the hive null partition, never at the table root
            # (a root file poisons layout detection — see
            # _rewrite_and_swap)
            sub = os.sep.join(
                f"{c}=__HIVE_DEFAULT_PARTITION__" for c in layout["dirs"]
            )
        final = (
            os.path.join(sub, f"txn-{txn_id}-{i:05d}.olive")
            if sub else f"txn-{txn_id}-{i:05d}.olive"
        )
        ent = tmp_stats.get(rel)
        if ent is not None:
            stats[final] = ent
        dest = os.path.join(path, final + ".staging")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(f, dest)
        finals.append(final)
    shutil.rmtree(tmp, ignore_errors=True)
    return {
        "path": os.path.abspath(path),
        "table": table,
        "finals": finals,
        "stats": stats,
        "txn": txn_id,
        "op": "txn-append",
    }


def _publish_one(part: dict, tag: str) -> bool:
    """PUBLISH one participant (idempotent): skip when the snapshot log
    already carries the txn tag; otherwise activate staged files AND
    staged deletion vectors, merge stats, and append ONE tagged
    snapshot entry — all under ONE hold of the table's metadata commit
    lock so a concurrent append can't interleave between activation
    and the log entry.  A mutation participant (``dvs`` non-empty)
    lands its delete leg and its insert leg in the SAME entry — the
    per-table commit is itself atomic, the cross-table marker makes
    the group atomic."""
    from olive_spark.format.lock import metadata_commit_lock
    from olive_spark.format.manifest import merge_manifest
    from olive_spark.format.snapshots import _append_entry_locked, has_tag

    path = part["path"]
    with metadata_commit_lock(path):
        if has_tag(path, tag):
            _remove_coord_ptr(part)  # crash between commit and cleanup
            return False  # a prior publish (or redo) already landed
        # DVs activate BEFORE chunk files (r13 — same rule as branch
        # publish): live listing and DV state are DIRECTORY-authority,
        # so each artifact becomes visible at its rename.  Delete-leg
        # first means a mid-publish reader of a MERGE sees the old row
        # briefly GONE (a committed delete, early by microseconds);
        # files-first would show old+new side by side — transient
        # duplicate keys, the one state an upsert must never expose.
        dvs = [tuple(p) for p in (part.get("dvs") or [])]
        if any(
            os.path.exists(os.path.join(path, dv_rel) + ".staging")
            for _t, dv_rel in dvs
        ):
            # Redo-safety (ADVICE r13): staged DV positions are valid
            # only against the staging-time files.  Live operation holds
            # the participant write lock PREPARE→PUBLISH, but a publish
            # REDO after a crash runs with that lock long dead — if a
            # compact/delete/merge rewrite retired a target in between,
            # renaming the DV would silently evaporate the committed
            # delete.  Fail loud instead; the rewrite ops heal committed
            # markers before touching files, so hitting this means an
            # out-of-band writer bypassed the heal.
            from olive_spark.format.errors import ValidationError
            from olive_spark.format.snapshots import list_live_files

            live = set(list_live_files(path))
            dead = [t for t, _d in dvs if t not in live]
            if dead:
                # ValidationError, not OSError (ADVICE r14): the heal
                # path's callers swallow OSError as "unreadable txn
                # dir", and this deliberate redo-safety refusal must
                # surface there, not vanish
                raise ValidationError(
                    f"txn {tag}: deletion-vector target(s) {dead} are no "
                    f"longer live in {path} — a file rewrite retired them "
                    "after this transaction committed; refusing to publish "
                    "a delete leg that would silently drop positions"
                )
        for _target, dv_rel in dvs:
            stag = os.path.join(path, dv_rel) + ".staging"
            if os.path.exists(stag):
                os.replace(stag, os.path.join(path, dv_rel))
            elif not os.path.exists(os.path.join(path, dv_rel)):
                from olive_spark.format.errors import ValidationError

                raise ValidationError(  # deliberate refusal — see above
                    f"txn {tag}: staged DV {dv_rel} missing in {path} — "
                    "cannot complete the committed transaction"
                )
        for final in part["finals"]:
            stag = os.path.join(path, final + ".staging")
            if os.path.exists(stag):
                os.replace(stag, os.path.join(path, final))
            elif not os.path.exists(os.path.join(path, final)):
                from olive_spark.format.errors import ValidationError

                raise ValidationError(  # deliberate refusal — see above
                    f"txn {tag}: staged file {final} missing in {path} — "
                    "cannot complete the committed transaction"
                )
        try:
            merge_manifest(path, part.get("stats") or {})
        except OSError:
            pass  # stats are advisory; the scan falls back to headers
        _append_entry_locked(
            path, add=part["finals"], remove=(), reset=False,
            tag=tag, max_entries=None, dv_add=tuple(dvs), dv_remove=(),
            op=part.get("op", "txn-append"), params={"txn": tag},
        )
    _remove_coord_ptr(part)
    return True


def _remove_coord_ptr(part: dict) -> None:
    """Drop the participant-side coordinator pointer once the txn is
    fully published or rolled back on this table.  The id comes from
    the participant record (``txn``, r13 — mutation slices may stage
    only DVs) with the legacy staged-name parse
    (``txn-<id>-NNNNN.olive``) as fallback for pre-r13 markers."""
    txn_id = part.get("txn")
    if not txn_id:
        finals = part.get("finals") or []
        if not finals:
            return
        base = os.path.basename(finals[0])
        parts = base.split("-")
        if len(parts) < 3 or parts[0] != "txn":
            return
        txn_id = parts[1]
    try:
        os.remove(
            os.path.join(_txn_dir(part["path"]), f"{txn_id}.coord.json")
        )
    except OSError:
        pass


def _rollback_one(part: dict) -> None:
    for final in part["finals"]:
        try:
            os.remove(os.path.join(part["path"], final + ".staging"))
        except OSError:
            pass
    for _target, dv_rel in part.get("dvs") or []:
        try:
            os.remove(os.path.join(part["path"], dv_rel) + ".staging")
        except OSError:
            pass
    _remove_coord_ptr(part)


_ROOT_NAME = "_root.json"


def _root_path(coordinator: str) -> str:
    return os.path.join(_txn_dir(coordinator), _ROOT_NAME)


def _update_root(coordinator: str, participants: "list[dict]") -> None:
    """Swap the table-group root pointer to the participants' current
    versions — ONE atomic rename, performed strictly AFTER every
    participant published.  The root is the group's consistent cut:
    opted-in readers resolve versions through it, so between DECIDE and
    this swap they keep reading the all-pre cut even though live
    listings already show some tables updated (r12 verdict task #2)."""
    from olive_spark.format.snapshots import current_version

    root = group_versions(coordinator) or {}
    for part in participants:
        p = os.path.abspath(part["path"])
        root[p] = current_version(p)
    rp = _root_path(coordinator)
    os.makedirs(os.path.dirname(rp), exist_ok=True)
    with open(rp + ".tmp", "w") as f:
        json.dump({"versions": root}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(rp + ".tmp", rp)


def group_versions(coordinator: str) -> "dict[str, int] | None":
    """The table-group root pointer's {abspath: version} map, or None
    when no transaction has completed on this coordinator yet."""
    try:
        with open(_root_path(coordinator)) as f:
            return {
                k: int(v) for k, v in json.load(f)["versions"].items()
            }
    except (OSError, ValueError, KeyError):
        return None


def scan_txn_group(spark, coordinator: str, path: str, table: str = "data"):
    """Read ``path`` at the table-group root pointer's version — the
    opt-in consistent view across a multi-table transaction's members.
    A reader pinned between two publishes of an in-flight txn sees the
    ALL-PRE cut (the root moves only after the last publish); after
    the root swap it sees ALL-POST — never table A new with table B
    old.  Falls back to a live read for tables no completed txn on
    this coordinator has written yet (consistency begins with the
    first group commit that includes the table).  Thin facade over the
    first-class ``.option("txnGroup", coordinator)`` reader option."""
    from olive_spark.datasource import register_olive

    register_olive(spark)
    return (
        spark.read.format("olive")
        .option("table", table)
        .option("txnGroup", coordinator)
        .load(path)
    )


def participant_txn_state(path: str, txn_id: str) -> "str | None":
    """Vacuum's interlock for a ``txn-*.olive.staging`` file found on a
    PARTICIPANT table (r12, ADVICE r11 — the decision marker lives only
    in the coordinator's ``_olive_txn/``, so a participant-side sweep
    must resolve it through the staging-time pointer).  Returns:

    - ``'published'`` — commit marker found; this table's slice is
      published HERE AND NOW (idempotent ``_publish_one`` under the
      participant metadata lock — safe even racing the live
      coordinator, whose own redo skips by tag), so the staging name is
      gone;
    - ``'pending'`` — a prepared/commit marker exists, or the
      coordinator's write lock is live (a slow multi-table PREPARE can
      hold staged files for hours before any marker exists): do NOT
      sweep;
    - ``None`` — pointer or marker absent and no live coordinator:
      pre-PREPARE crash debris, sweepable after the caller's grace
      window.

    Never removes the coordinator's marker — rollback/forget belong to
    the coordinator's own recovery (its write lock fences them)."""
    ptr = os.path.join(_txn_dir(path), f"{txn_id}.coord.json")
    try:
        with open(ptr) as f:
            coord = json.load(f)["coordinator"]
    except (OSError, ValueError, KeyError):
        return None
    cdir = _txn_dir(coord)
    cpath = os.path.join(cdir, f"{txn_id}.commit.json")
    if os.path.exists(cpath):
        try:
            with open(cpath) as f:
                txn = json.load(f)
        except (OSError, ValueError):
            return "pending"  # marker mid-swap — leave it alone
        me = os.path.abspath(path)
        for part in txn.get("participants", ()):
            if os.path.abspath(part.get("path", "")) == me:
                _publish_one(part, txn["tag"])
                return "published"
        return "pending"
    if os.path.exists(os.path.join(cdir, f"{txn_id}.prepared.json")):
        return "pending"
    # no marker yet: an in-flight PREPARE holds the coordinator's write
    # lock for its whole duration — a live (non-stale) lock means the
    # staging may belong to it, whatever its age
    try:
        from olive_spark.format import lock as _lock

        cur = _lock._read(coord)
        if cur is not None and not _lock._is_stale(coord, cur):
            return "pending"
    except OSError:
        pass
    return None


def heal_committed_slices(path: str) -> int:
    """Participant-side heal (ADVICE r13): before a file-rewriting op
    (compact, respec_partitions, merge_upsert, delete_where,
    replace_where, update_where) touches ``path``, publish any
    COMMITTED-but-unpublished multi-table-txn slice whose staged DVs
    still reference the about-to-be-rewritten files.  Resolution goes
    through the staging-time coordinator pointers exactly like vacuum's
    :func:`participant_txn_state` interlock (which does the publish as
    a side effect).  PREPARED-only slices are left alone: the caller
    holds this table's write lock, so a mutation txn's coordinator
    cannot be alive (it would hold the same lock) and its rollback just
    deletes the inert staged artifacts — rewriting under it is safe.
    Returns the number of slices published here."""
    tdir = _txn_dir(path)
    if not os.path.isdir(tdir):
        return 0
    healed = 0
    for name in sorted(os.listdir(tdir)):
        if not name.endswith(".coord.json"):
            continue
        txn_id = name[: -len(".coord.json")]
        if participant_txn_state(path, txn_id) == "published":
            healed += 1
    return healed


def recover_txns(spark, coordinator_path: str) -> dict:
    """Heal interrupted multi-table transactions coordinated by
    ``coordinator_path``: PREPARED markers roll back (staged files
    removed — nothing was ever visible), COMMIT markers re-publish
    every participant the crash left behind.  Runs automatically at
    the start of every :func:`multi_table_append` on the same
    coordinator; call directly after restoring a host."""
    tdir = _txn_dir(coordinator_path)
    out = {"rolled_back": 0, "completed": 0}
    if not os.path.isdir(tdir):
        return out
    for name in sorted(os.listdir(tdir)):
        p = os.path.join(tdir, name)
        if name.endswith(".prepared.json"):
            with open(p) as f:
                txn = json.load(f)
            for part in txn["participants"]:
                _rollback_one(part)
            os.remove(p)
            out["rolled_back"] += 1
        elif name.endswith(".commit.json"):
            with open(p) as f:
                txn = json.load(f)
            for part in txn["participants"]:
                _publish_one(part, txn["tag"])
            _update_root(coordinator_path, txn["participants"])
            os.remove(p)
            out["completed"] += 1
    return out


def _stage_delete(
    spark, path: str, condition: str, table: str, txn_id: str,
    coordinator: str,
) -> dict:
    """PREPARE a staged DELETE slice (r13, VERDICT r12 task #2): one
    merge-on-read deletion vector per affected file, written straight
    from executors into ``_olive_dv/<rel>/txn-<id>-dv.dv.staging`` —
    inert until PUBLISH renames the suffix away and folds the
    ``dv_add`` pairs into the tagged snapshot entry.  The ``txn-``
    run prefix keeps vacuum's participant interlock working on the
    DV sidecars exactly as it does on staged chunk files.  Positions
    come from a live posColumn scan (existing DVs fold first), valid
    for the txn's lifetime because :func:`multi_table_txn` holds every
    participant's table write lock across PREPARE→PUBLISH."""
    from olive_spark.format.snapshots import list_live_files
    from olive_spark.ops.maintenance import _discover_and_stage_dvs

    _drop_coord_ptr(path, txn_id, coordinator)
    staged: list = []
    if list_live_files(path):
        staged = _discover_and_stage_dvs(
            spark, path, table, condition, f"txn-{txn_id}-dv", "dv", 0.0,
        )
    return {
        "path": os.path.abspath(path),
        "table": table,
        "finals": [],
        "stats": {},
        "dvs": [[f, dv] for f, dv, _n in staged],
        "rows_deleted": int(sum(n for _f, _d, n in staged)),
        "txn": txn_id,
        "op": "txn-delete",
    }


def _stage_merge(
    spark, path: str, src_df, keys: "list[str]", table: str,
    txn_id: str, coordinator: str,
) -> dict:
    """PREPARE a staged MERGE slice: delete-and-insert upsert — rows
    whose key tuple appears in the source are DV-deleted (staged), the
    whole source stages as an append; PUBLISH lands both legs in ONE
    tagged snapshot entry.  Duplicate source key tuples are refused
    (standard MERGE semantics, same rule as branch.merge_on_branch)."""
    from olive_spark.format.snapshots import list_live_files
    from olive_spark.ops.maintenance import (
        _broadcastable, _discover_and_stage_dvs, _merge_key_count,
    )

    n_keys = _merge_key_count(
        src_df, keys, f"multi_table_txn merge: source for {path}"
    )
    _drop_coord_ptr(path, txn_id, coordinator)
    staged: list = []
    if list_live_files(path):
        key_df = src_df.select(*keys)
        staged = _discover_and_stage_dvs(
            spark, path, table, key_df, f"txn-{txn_id}-dv", "dv", 0.0,
            key_cols=list(keys),
            broadcast=_broadcastable(
                spark, n_keys, [key_df.schema[k].dataType for k in keys]
            ),
        )
    part = _stage_one(
        spark, path, src_df, table, txn_id, coordinator=coordinator,
    )
    part["dvs"] = [[f, dv] for f, dv, _n in staged]
    part["rows_deleted"] = int(sum(n for _f, _d, n in staged))
    part["op"] = "txn-merge"
    return part


def multi_table_txn(
    spark, ops: "list[dict]", table: str = "data",
    lock_wait: float = 0.0,
) -> dict:
    """ONE atomic commit spanning several tables where each slice is an
    APPEND, a DELETE, or a MERGE (r13, VERDICT r12 task #2 — the
    generalization :func:`multi_table_append` is now a facade over).
    Either every table lands its mutation (one tagged snapshot version
    each, delete + insert legs of a merge in the SAME entry) or none
    does, under crashes at any point — same marker protocol, same
    crash matrix, same group-root cut for opted-in readers.

    ``ops``: ``[{"path": t, "op": "append", "df": df},
    {"path": u, "op": "delete", "condition": "k < 0"},
    {"path": v, "op": "merge", "df": src, "keys": ["k"]}]``
    (``op`` defaults to ``"append"``; per-op ``"table"`` overrides the
    shared table name).  The first op's path coordinates.

    Locking: any transaction containing a mutation holds EVERY
    participant's table write lock (sorted acquisition — deadlock
    free) from PREPARE through PUBLISH: staged DV positions are valid
    only against the staging-time row grid, and a concurrent
    compact/merge on a participant would silently re-point them.
    Pure-append transactions keep the coordinator-only lock (appends
    commute; unchanged pre-r13 concurrency).

    Returns ``{"txn", "tables": {path: version},
    "rows_deleted": {path: n}}``."""
    from contextlib import ExitStack

    from olive_spark.datasource import register_olive
    from olive_spark.format.lock import table_write_lock
    from olive_spark.format.snapshots import current_version

    if not ops:
        raise ValueError("multi_table_txn: ops must be non-empty")
    norm = []
    for o in ops:
        kind = o.get("op", "append")
        if kind not in ("append", "delete", "merge"):
            raise ValueError(f"multi_table_txn: unknown op {kind!r}")
        if kind in ("append", "merge") and o.get("df") is None:
            raise ValueError(f"multi_table_txn: {kind} needs 'df'")
        if kind == "delete" and not o.get("condition"):
            raise ValueError("multi_table_txn: delete needs 'condition'")
        if kind == "merge" and not o.get("keys"):
            raise ValueError("multi_table_txn: merge needs 'keys'")
        norm.append({**o, "op": kind, "path": os.path.abspath(o["path"])})
    paths = [o["path"] for o in norm]
    if len(set(paths)) != len(paths):
        raise ValueError(
            "multi_table_txn: duplicate table paths in one "
            "transaction — combine the slices instead"
        )
    register_olive(spark)
    coordinator = paths[0]
    txn_id = uuid.uuid4().hex
    tag = f"txn-{txn_id}"
    has_mutation = any(o["op"] != "append" for o in norm)
    with ExitStack() as stack:
        lock_paths = sorted(set(paths)) if has_mutation else [coordinator]
        for p in lock_paths:
            stack.enter_context(
                table_write_lock(p, wait=float(lock_wait or 0.0))
            )
        recover_txns(spark, coordinator)
        participants = []
        try:
            for o in norm:
                t = o.get("table", table)
                if o["op"] == "append":
                    participants.append(_stage_one(
                        spark, o["path"], o["df"], t, txn_id,
                        coordinator=coordinator,
                    ))
                elif o["op"] == "delete":
                    participants.append(_stage_delete(
                        spark, o["path"], o["condition"], t, txn_id,
                        coordinator,
                    ))
                else:
                    participants.append(_stage_merge(
                        spark, o["path"], o["df"], list(o["keys"]), t,
                        txn_id, coordinator,
                    ))
                _crash_point("mid_prepare")
        except Exception:
            for part in participants:
                _rollback_one(part)
            raise
        tdir = _txn_dir(coordinator)
        os.makedirs(tdir, exist_ok=True)
        prepared = os.path.join(tdir, f"{txn_id}.prepared.json")
        payload = json.dumps({"tag": tag, "participants": participants})
        with open(prepared + ".tmp", "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(prepared + ".tmp", prepared)
        _crash_point("after_prepare")
        committed = os.path.join(tdir, f"{txn_id}.commit.json")
        os.replace(prepared, committed)  # THE commit point
        _crash_point("after_decide")
        for part in participants:
            _publish_one(part, tag)
            _crash_point("mid_publish")
        _update_root(coordinator, participants)
        _crash_point("after_root")
        os.remove(committed)
    return {
        "txn": txn_id,
        "tables": {
            p["path"]: current_version(p["path"]) for p in participants
        },
        "rows_deleted": {
            p["path"]: int(p.get("rows_deleted", 0)) for p in participants
        },
    }


def multi_table_append(
    spark, writes: "list[tuple[str, object]]", table: str = "data"
) -> dict:
    """Append several DataFrames to several olive tables as ONE atomic
    transaction: either every table gains its rows (one tagged snapshot
    version each) or none does, under crashes at any point.  The first
    table coordinates (its ``_olive_txn/`` dir holds the decision
    marker); its advisory write lock serializes concurrent transactions
    on the same coordinator and fences recovery.

    Facade over :func:`multi_table_txn` (r13) with the pre-r13
    signature and return shape.

    Returns ``{"txn": id, "tables": {path: version}}``."""
    if not writes:
        raise ValueError("multi_table_append: writes must be non-empty")
    paths = [os.path.abspath(p) for p, _df in writes]
    if len(set(paths)) != len(paths):
        raise ValueError(
            "multi_table_append: duplicate table paths in one "
            "transaction — union the frames instead"
        )
    out = multi_table_txn(
        spark,
        [{"path": p, "op": "append", "df": df} for p, df in writes],
        table=table,
    )
    return {"txn": out["txn"], "tables": out["tables"]}
