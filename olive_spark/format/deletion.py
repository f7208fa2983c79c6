"""Deletion vectors: merge-on-read row deletes for olive tables.

Copy-on-write mutations (ops/maintenance.py) rewrite every file that
contains a touched row — correct, but a 1-row delete in a 1 GiB file
costs 1 GiB of write.  A deletion vector (DV) records the DELETED ROW
POSITIONS of one chunk file in a tiny sidecar instead; scans fold the
positions out at read time, and ``compact`` materializes them (the
rewrite reads through the folding scan, so its output carries no DVs).
Same design as Delta deletion vectors / Iceberg positional deletes,
scoped to this engine's advisory-sidecar safety model:

- the DIRECTORY is the authority for current scans (same rule as the
  snapshot log): live DVs for file ``F`` are exactly the ``*.dv`` files
  under ``_olive_dv/<F>/`` — a lost snapshot log never resurrects
  deleted rows;
- positions are RAW row indices within the target file's shared row
  grid (page-selection-independent), so DV files written at different
  times compose by set union; a new DV is computed over a folding scan
  and therefore never re-marks an already-deleted position;
- when a rewrite retires file ``F``, its DVs retire WITH it (to
  ``_olive_history/_olive_dv/<F>/`` under history retention), so
  time travel to pre-rewrite versions reconstructs both;
- the snapshot log records DV adds/removes per version (``dv_add`` /
  ``dv_remove`` entry fields), so ``.option("snapshot", N)`` folds the
  DV state AS OF that version, and the change feed diffs DV state to
  emit row-level deletes for DV commits.

File format (one DV file, magic ``ODV1``):

    b"ODV1" | u32 header_len | header JSON | zstd(u64-le positions)

The header carries {"count"} (and {"table"} when scoped) so metadata
consumers (count_rows/describe) read 4+4+header bytes, never the payload.
The directory names the target file, so the header does not: a DV's
fixed cost stays small beside the few positions a small delete records.
DVs written with a {"target"} field read unchanged; readers ignore it.

The reference format is batch-only with no mutation layer
(/root/reference/src/root.zig:9-16); DVs are this engine's lakehouse
extension, like the snapshot log they ride on.
"""

from __future__ import annotations

import json
import os
import shutil
import struct

import numpy as np

from olive_spark.format.errors import ValidationError

DV_DIR = "_olive_dv"
_MAGIC = b"ODV1"


def dv_root(path: str) -> str:
    return os.path.join(path, DV_DIR)


def target_dir(path: str, target_rel: str) -> str:
    """Directory holding every live DV of one chunk file."""
    return os.path.join(path, DV_DIR, target_rel)


def encode_dv(positions: "np.ndarray", table: "str | None" = None) -> bytes:
    """Serialize sorted unique uint64 row positions (zstd, the same
    codec surface the chunk pages use — format/compression.py).

    ``table`` scopes the DV to ONE table of the target chunk: DVs are
    keyed by target file on disk, but a hand-written multi-table chunk
    has an independent row grid per table, so a DV against one table's
    grid must not fold into scans of the others (r10 advice).  Readers
    skip DVs whose recorded table differs from the scan's; DVs without
    the field (pre-r11) apply to any table, preserving old behavior on
    the single-table directories the mutation layer writes."""
    from olive_spark.format.compression import compress

    pos = np.unique(np.asarray(positions, dtype=np.uint64))
    doc: dict = {"count": int(len(pos))}
    if table is not None:
        doc["table"] = table
    header = json.dumps(doc, separators=(",", ":")).encode()
    payload = compress("zstd", pos.astype("<u8").tobytes())
    return _MAGIC + struct.pack("<I", len(header)) + header + payload


def _read_header(fp: str) -> tuple[dict, int]:
    with open(fp, "rb") as f:
        head = f.read(8)
        if len(head) != 8 or head[:4] != _MAGIC:
            raise ValidationError(f"not a DV file: {fp}")
        (hlen,) = struct.unpack("<I", head[4:])
        raw = f.read(hlen)
    if len(raw) != hlen:
        raise ValidationError(f"truncated DV header: {fp}")
    try:
        doc = json.loads(raw)
    except ValueError as exc:
        raise ValidationError(f"corrupt DV header: {fp}") from exc
    if not isinstance(doc, dict) or not isinstance(doc.get("count"), int):
        raise ValidationError(f"malformed DV header: {fp}")
    return doc, 8 + hlen


def read_count(fp: str) -> int:
    """Deleted-row count from the header alone (no payload read)."""
    return int(_read_header(fp)[0]["count"])


def dv_applies_to(fp: str, table: "str | None") -> bool:
    """Whether the DV at ``fp`` applies to scans of ``table`` (header-
    only read).  A DV without a recorded table applies to any table
    (pre-r11 files, single-table mutation paths); with one, only to
    the matching table — a multi-table chunk has one row grid per
    table, so cross-table folding would drop wrong rows."""
    if table is None:
        return True
    rec = _read_header(fp)[0].get("table")
    return rec is None or rec == table


def read_positions(fp: str) -> "np.ndarray":
    from olive_spark.format.compression import decompress

    doc, off = _read_header(fp)
    with open(fp, "rb") as f:
        f.seek(off)
        payload = f.read()
    raw = decompress("zstd", payload, int(doc["count"]) * 8)
    pos = np.frombuffer(raw, dtype="<u8")
    if len(pos) != int(doc["count"]):
        raise ValidationError(
            f"DV payload count mismatch in {fp}: header says "
            f"{doc['count']}, payload holds {len(pos)}"
        )
    return pos.astype(np.uint64)


def union_positions(paths, table: "str | None" = None) -> "np.ndarray":
    """Sorted unique union of several DV files' positions.  With
    ``table``, DVs recorded against a DIFFERENT table of the target
    chunk are skipped (see dv_applies_to)."""
    parts = [
        read_positions(p)
        for p in paths
        if dv_applies_to(p, table)
    ]
    if not parts:
        return np.zeros(0, np.uint64)
    return np.unique(np.concatenate(parts))


def list_dvs(path: str) -> "dict[str, list[str]]":
    """Live DV state from the directory (the current-scan authority):
    ``{target_rel: [dv names]}`` where each DV name is table-relative
    (``_olive_dv/<target_rel>/<x>.dv``), sorted for determinism."""
    root = dv_root(path)
    if not os.path.isdir(root):
        return {}
    out: dict[str, list[str]] = {}
    for r, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".dv"):
                continue
            target = os.path.relpath(r, root)
            out.setdefault(target, []).append(
                os.path.relpath(os.path.join(r, f), path)
            )
    return {t: sorted(v) for t, v in sorted(out.items())}


def resolve_dv_paths(path: str, names) -> "list[str]":
    """Table-relative DV names → on-disk paths, live first then
    ``_olive_history/`` (same contract as snapshots.resolve_paths);
    missing files fail loud — a silently skipped DV resurrects rows."""
    from olive_spark.format.snapshots import HISTORY_DIR

    out, missing = [], []
    for n in names:
        live = os.path.join(path, n)
        hist = os.path.join(path, HISTORY_DIR, n)
        if os.path.exists(live):
            out.append(live)
        elif os.path.exists(hist):
            out.append(hist)
        else:
            missing.append(n)
    if missing:
        raise ValidationError(
            "deletion vectors not reconstructable — DV files were removed "
            f"without history retention: {missing[:5]}"
            + ("..." if len(missing) > 5 else "")
        )
    return out


def deleted_count(path: str, dv_names, table: "str | None" = None) -> int:
    """Total deleted rows across DV files (header-only reads); DVs
    scoped to a different table of the target chunk don't count."""
    return sum(
        read_count(p)
        for p in resolve_dv_paths(path, dv_names)
        if dv_applies_to(p, table)
    )


def retire_target_dvs(path: str, target_rel: str, history: bool) -> int:
    """Retire every live DV of ``target_rel`` alongside its data file:
    moved under ``_olive_history/_olive_dv/`` when history retention is
    on (pre-rewrite snapshots still fold them), deleted otherwise.
    Returns the number of DV files retired."""
    src = target_dir(path, target_rel)
    if not os.path.isdir(src):
        return 0
    n = 0
    if history:
        from olive_spark.format.snapshots import HISTORY_DIR

        dst = os.path.join(path, HISTORY_DIR, DV_DIR, target_rel)
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):
            if not f.endswith(".dv"):
                continue
            d = os.path.join(dst, f)
            s = os.path.join(src, f)
            try:
                if os.path.exists(d) and os.path.samestat(
                    os.stat(s), os.stat(d)
                ):
                    os.remove(s)
                else:
                    os.replace(s, d)
                n += 1
            except FileNotFoundError:
                pass
        shutil.rmtree(src, ignore_errors=True)
    else:
        for f in os.listdir(src):
            if f.endswith(".dv"):
                n += 1
        shutil.rmtree(src, ignore_errors=True)
    # prune now-empty parents up to _olive_dv so hive-partition chains
    # don't accumulate empty dirs
    parent = os.path.dirname(src)
    root = dv_root(path)
    while parent.startswith(root) and parent != root:
        try:
            os.rmdir(parent)
        except OSError:
            break
        parent = os.path.dirname(parent)
    return n


def retire_dv_file(path: str, dv_rel: str, history: bool) -> None:
    """Retire ONE live DV file (RESTORE undoing a post-version DV)."""
    from olive_spark.format.snapshots import HISTORY_DIR

    live = os.path.join(path, dv_rel)
    if not os.path.exists(live):
        return
    if history:
        dst = os.path.join(path, HISTORY_DIR, dv_rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.exists(dst) and os.path.samestat(
            os.stat(live), os.stat(dst)
        ):
            os.remove(live)
        else:
            os.replace(live, dst)
    else:
        os.remove(live)
