"""The ``olive`` Spark data source (Python DataSource V2, Spark 4.x).

Spark-first mapping of the reference's two entry points
(reference src/write.zig:35-101, src/read.zig:41-100):

    df.write.format("olive").save(path)     → executors serialize their
        partitions as olive chunks, one or more files per task (the 4 GiB
        data-section cap means a partition may split into several chunks,
        SURVEY.md §7.4)
    spark.read.format("olive").load(path)   → whole chunk files
        bin-packed into scan partitions (see maxPartitionBytes /
        scanParallelism below); each partition yields Arrow
        RecordBatches zero-copy into Spark's columnar pipeline

Scan-side optimizations (SURVEY.md §4): column pruning via the
``columns`` option (only requested columns' buffers are decompressed),
filter pushdown (``pushFilters``) driving page-granular row skipping on
per-page min/max stats + the shared row grid. Spark re-applies every
filter, so pruning is allowed to be conservative.

Options:
    table            table name inside multi-table chunks (default: the
                     file's single table / "data" on write)
    columns          comma-separated column pruning list (set automatically
                     by olive_spark.queries helpers; Spark's Python DS API
                     has no required-columns pushdown yet)
    compressionBias  "balanced" (zstd on every page) | "read_optimized"
                     (lz4, lz4_hc on var-width data; reference
                     src/write.zig:30-33)
    pageRows         rows per page / skipping granularity (default 65536)
    chunkRows        max rows per output file (default 1 << 20)
    dictEncode       "true"/"false" — global fsb20/32 dict (default true)
    stats            "true"/"false" — per-page min/max stats (default true)
    bloomColumns     comma-separated columns that get a per-file Bloom
                     filter in the header; =/IN pushed filters then skip
                     whole files whose filter disproves the literal
                     (point lookups on high-cardinality ids, where
                     min/max can't prune)
    pushdown         "true" → pushed filters drive file/page pruning at
                     planning time.  Opt-in: Spark caches one readInfo
                     per relation, so a pruned plan from a filtered
                     query would be silently reused by a later
                     filter-less action on the SAME DataFrame (see
                     OliveReader.pushFilters).  Enable on relations
                     loaded fresh per query (queries.data.load does).
    maxPartitionBytes  scan bin-packing cap (default 128 MiB): chunk
                     files are packed into scan partitions like Spark's
                     native file sources, so many small files don't pay
                     one Python-worker round trip each
    openCostInBytes  per-file packing padding (default 128 KiB)
    scanParallelism  target scan-wave width for packing (default:
                     $SPARK_GRAFT_CPUS, else this machine's cores,
                     capped at 8).  The derived default also never
                     plans partitions under MIN_PARTITION_BYTES (4 MiB,
                     open-cost padding included): each partition is one
                     Python worker round trip with a fixed cost (see
                     MIN_PARTITION_BYTES), so a table under 4 MiB scans
                     as ONE partition.  An explicit value sets the
                     width exactly, floor off
    mergeSchema      "true" → union column sets across all chunk headers
                     (schema drift: files written before a column existed
                     null-fill it at read time); default uses the first
                     file's schema
    partitionBy      comma-separated columns → hive-style
                     ``path/col=value/part-*.olive`` layout on write; reads
                     prune whole directories on =/IN pushed filters
                     (partition columns stay in the data, the dir name is
                     a pruning index)
    files            comma-separated snapshot-relative chunk names →
                     scan exactly these files (resolved live-then-
                     _olive_history/).  The snapshot-DIFF primitive:
                     ops.changes.read_changes scans only the files two
                     versions disagree on.  Exclusive with ``snapshot``
    posColumn        append each row's RAW position within its chunk
                     file (int64, page-selection- and DV-independent) —
                     the merge-on-read primitive: deletion vectors
                     record these positions (format/deletion.py)
    dvs              JSON {target_rel: [dv names]} overriding the
                     deletion-vector state to fold ("{}" disables
                     folding).  Default: the snapshot's DV state for
                     time-travel scans, the live _olive_dv/ directory
                     otherwise.  ops.changes passes per-version state
    dvMode           "drop" (default: deleted positions are removed) |
                     "select" (ONLY the listed positions are returned —
                     the change feed's DV-diff delete reader; files
                     with no dvs entry yield no rows)
    branch           WAP branch preview (ops/branch.py): scan the
                     branch's base-version files + its staged files
                     with the base version's DV state — what a publish
                     would serve; resolved at plan time; exclusive
                     with snapshot/snapshotTag/snapshotAsOf/files/dvs
    snapshotAsOf     time travel by TIMESTAMP (Delta's timestampAsOf):
                     epoch seconds or ISO-8601 (naive = UTC) → resolved
                     at plan time to the latest commit at-or-before the
                     instant (format/snapshots.version_at_timestamp);
                     exclusive with ``snapshot``/``snapshotTag``; fails
                     loud when the instant predates the oldest retained
                     commit
    txnGroup         consistent multi-table read (ops/txn.py, r12):
                     value = the transaction COORDINATOR's table path;
                     this table's version resolves through the group
                     root pointer (_olive_txn/_root.json, swapped
                     atomically after the last publish) so every member
                     table reads all-pre or all-post of an in-flight
                     transaction, never a mix; tables absent from the
                     root read live; exclusive with snapshot options
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Any, Iterator, Optional, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pyarrow as pa


def _read_header_bytes(path: str):
    """Parse just the framed header of one chunk file (cheap: no data
    pages; cached per process).  Imported from format.header — NOT
    format.reader — so plan-worker callers (schema/partitions) never
    pull reader.py's module-level numpy/pyarrow imports."""
    from olive_spark.format.header import read_header

    return read_header(path)


def _parse_asof_timestamp(raw: str) -> float:
    """snapshotAsOf accepts epoch seconds (int/float string) or an
    ISO-8601 datetime; a naive datetime is UTC (session tz is pinned
    UTC everywhere in this engine — hashing against DuckDB depends on
    it, so the option follows the same convention)."""
    s = str(raw).strip()
    try:
        return float(s)
    except ValueError:
        pass
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(s)
    except ValueError:
        raise ValueError(
            f"olive: cannot parse snapshotAsOf {raw!r} — use epoch "
            "seconds or ISO-8601 (e.g. 2026-08-16T01:00:00+00:00)"
        )
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _chunk_file_name(task: int = 0) -> str:
    """part-<20-digit epoch-µs>-<task>-<uuid8>.olive: the zero-padded
    timestamp makes lexicographic order chronological, so concurrently
    appended files land at the END of the sorted listing — the property
    the streaming reader's index offsets depend on (a pure-uuid name
    could sort into the middle of already-consumed indices).  ``task``
    is the writer task's partition id; see :func:`_chunk_file_order`."""
    import time

    return (
        f"part-{int(time.time() * 1e6):020d}-{task:05d}-"
        f"{uuid.uuid4().hex[:8]}.olive"
    )


def _chunk_file_order(fp: str) -> tuple:
    """Sort key giving one write's files in (writer partition, emit
    order): concurrent tasks interleave their timestamps, so a rewrite
    that renames its output in plain listing order would scatter the
    input's file order (and key clustering) across the new names."""
    name = os.path.basename(fp)
    bits = name.split("-")
    task = int(bits[2]) if len(bits) == 4 and bits[2].isdigit() else 0
    return (os.path.dirname(fp), task, name)


def _list_chunk_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        # os.walk order is fs-dependent; schema resolution and streaming
        # offsets both key off the file order, so pin it.  `_`-prefixed
        # dirs are metadata, not data — in particular _olive_history
        # holds compaction-replaced files that only snapshot reads may
        # see (they'd double-count in a live scan).  Hive partition
        # dirs for `_`-named COLUMNS still contain '=' and stay visible
        # (`_year=2024` is data, `_olive_history` is not).  `.`-prefixed
        # dirs are uncommitted staging (executor-side tombstone writes)
        # and are never data.
        dirs[:] = sorted(
            d for d in dirs
            if not (d.startswith("_") and "=" not in d)
            and not d.startswith(".")
        )
        for f in sorted(files):
            if f.endswith(".olive"):
                out.append(os.path.join(root, f))
    if not out:
        from olive_spark.format.errors import ValidationError

        raise ValidationError(f"no .olive files under {path}")
    return out


_SPARK_SIMPLE = {
    # olive type-JSON name → pyspark.sql.types class name, with the
    # SURVEY.md §1.2 widenings applied (no unsigned / f16 / time types
    # in Spark): u8→i16, u16→i32, u32→i64, u64→decimal(20,0),
    # f16→f32, time32→i32, time64→i64, date64→timestamp,
    # fsb→binary.  Pure-Spark mapping so planning (schema/partitions
    # in the Spark driver's plan worker) never imports pyarrow/numpy —
    # that import was the dominant fixed cost of every warm scan.
    "null": "NullType",
    "bool": "BooleanType",
    "int8": "ByteType",
    "int16": "ShortType",
    "int32": "IntegerType",
    "int64": "LongType",
    "uint8": "ShortType",
    "uint16": "IntegerType",
    "uint32": "LongType",
    "float16": "FloatType",
    "float32": "FloatType",
    "float64": "DoubleType",
    "binary": "BinaryType",
    "large_binary": "BinaryType",
    "utf8": "StringType",
    "large_utf8": "StringType",
    "date32": "DateType",
    "date64": "TimestampType",
}


def _spark_type_from_type_json(j: Any, decimal256: str = "reject",
                               nested: bool = False):
    """Olive type JSON (format.types.type_to_json) → Spark DataType,
    matching what the read path produces per batch: read() casts every
    Arrow batch to ``to_arrow_schema(spark_schema)``, so this mapping
    and the cast are the two halves of one contract (covered end-to-end
    by the types_* driver queries and tests/test_safety.py).

    ``decimal256``: policy for decimal precision beyond Spark's max of
    38 (the reference writes decimal256 natively,
    src/write.zig:151-157): "reject" (default) raises; "binary" maps
    the column to BinaryType — each value surfaces as its 32-byte
    big-endian two's-complement unscaled integer (the declared scale
    stays in the olive header metadata)."""
    from pyspark.sql import types as T

    if isinstance(j, str):
        name = _SPARK_SIMPLE.get(j)
        if name is not None:
            return getattr(T, name)()
        if j == "uint64":
            return T.DecimalType(20, 0)
        if j == "interval_month_day_nano":
            # (reference src/write.zig:193-197) no storable Spark
            # equivalent → lower to a typed struct
            return T.StructType(
                [
                    T.StructField("months", T.IntegerType()),
                    T.StructField("days", T.IntegerType()),
                    T.StructField("nanos", T.LongType()),
                ]
            )
        from olive_spark.format.errors import ValidationError

        raise ValidationError(f"unknown olive type name {j!r}")
    if not isinstance(j, dict) or "t" not in j:
        from olive_spark.format.errors import ValidationError

        raise ValidationError(f"malformed olive type json: {j!r}")
    t = j["t"]
    if t == "decimal":
        p, s = int(j["precision"]), int(j["scale"])
        if p <= 38:
            return T.DecimalType(p, s)
        if decimal256 == "binary":
            if nested:
                # _cast_to only converts TOP-LEVEL decimal256 columns;
                # emitting nested BinaryType here would crash executors
                # mid-job on an unimplemented Arrow cast — reject at
                # plan time with a clear error instead
                from olive_spark.format.errors import ValidationError

                raise ValidationError(
                    f"decimal256({p},{s}) nested inside list/struct/map "
                    "is not supported by the 'binary' fallback; flatten "
                    "the column or rescale to precision <= 38"
                )
            return T.BinaryType()
        # decimal256 beyond Spark's max precision (reference
        # src/write.zig:151-157): reject by default (SURVEY.md §1.2;
        # opt into .option("decimal256", "binary") for raw bytes)
        from olive_spark.format.errors import ValidationError

        raise ValidationError(
            f"decimal256({p},{s}) exceeds Spark's max "
            "decimal precision (38); rescale the column or store it as "
            "binary (SURVEY.md §1.2: reject by default; "
            ".option('decimal256', 'binary') opts into raw bytes)"
        )
    if t == "timestamp":
        return T.TimestampType()
    if t == "time":
        return T.IntegerType() if int(j["bits"]) == 32 else T.LongType()
    if t == "duration":
        return T.DayTimeIntervalType(0, 3)
    if t == "fixed_size_binary":
        return T.BinaryType()
    if t in ("list", "large_list", "fixed_size_list"):
        return T.ArrayType(
            _spark_type_from_type_json(j["item"], decimal256, nested=True)
        )
    if t == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _spark_type_from_type_json(f["type"], decimal256, nested=True),
                    f.get("nullable", True),
                )
                for f in j["fields"]
            ]
        )
    if t == "map":
        return T.MapType(
            _spark_type_from_type_json(j["key"], decimal256, nested=True),
            _spark_type_from_type_json(j["value"], decimal256, nested=True),
        )
    from olive_spark.format.errors import ValidationError

    raise ValidationError(f"unknown olive type tag {t!r}")


@dataclass
class OliveInputPartition(InputPartition):
    files: tuple[str, ...]
    table: Optional[str]
    columns: Optional[tuple[str, ...]]
    predicates: tuple[tuple[str, str, Any], ...]
    # deletion vectors for THIS partition's files: ((abs file path,
    # (abs dv paths, ...)), ...) — empty for DV-less tables, so every
    # pre-DV construction site (streaming) stays valid
    dvs: tuple = ()


# Smallest scan partition a DERIVED scan width may plan (padded bytes,
# like every size the packer sees).  Each Python worker round trip — a
# scan task, a planner call, a writer or mapInArrow task — has a fixed
# cost whatever it carries: ~0.04 CPU s once the worker has imported
# olive_spark (which pins Spark's own archives, see _pin_spark_archives
# in olive_spark/__init__.py), ~0.2 CPU s before.  Scanning lineitem
# costs ~0.05 CPU s per on-disk MiB, so a round trip weighs about as
# much as 1 MiB of data (4-vCPU host, tools/probe_scan_floor.py).  The
# 4 MiB value was set when the round trip cost ~0.2 CPU s; the probe's
# 1/2/4 MiB sweep on 4-17 MiB tables put the three floors within
# 0.1 CPU s and 10% latency of each other, 4 MiB using the least CPU
# below 8 MiB.  On a 4-wide scan it binds only for tables under 16 MiB
# padded.
MIN_PARTITION_BYTES = 4 << 20


def _pack_files(
    files: Sequence[str],
    max_partition_bytes: int,
    open_cost: int,
    min_partitions: int,
    min_partition_bytes: int = 0,
) -> list[tuple[str, ...]]:
    """Bin-pack chunk files into scan partitions the way Spark's native
    file sources do (maxPartitionBytes / openCostInBytes): each Python
    DS task carries a fixed worker round-trip cost, so scanning many
    small files one-per-task is dominated by overhead, while one huge
    partition serializes the scan.  Target split size =
    max(openCost, min(maxPartitionBytes, max(minPartitionBytes,
    totalBytes/minPartitions))) — small layouts collapse into ~one wave
    of tasks no smaller than ``min_partition_bytes`` (a table under it
    is one partition), 100 TB layouts cap at maxPartitionBytes and fan
    out to tens of thousands of tasks."""
    def _size(f: str) -> int:
        try:
            return os.path.getsize(f)
        except OSError:
            # listed file vanished mid-plan (e.g. a concurrent
            # compact's originals-delete) — keep it with nominal size
            # so planning never crashes; if it is still absent at read
            # time the scan fails there with a clear error
            return 0

    sized = [(f, _size(f) + open_cost) for f in files]
    total = sum(s for _, s in sized)
    target = max(
        open_cost + 1,
        min(
            max_partition_bytes,
            max(min_partition_bytes, -(-total // max(1, min_partitions))),
        ),
    )
    bins: list[tuple[str, ...]] = []
    cur: list[str] = []
    cur_sz = 0
    for f, s in sized:
        # the hard cap closes BEFORE adding (a bin never exceeds
        # maxPartitionBytes unless a single file does); the wave target
        # closes AFTER adding, so size jitter between files can't split
        # one intended wave of bins into two
        if cur and cur_sz + s > max_partition_bytes:
            bins.append(tuple(cur))
            cur, cur_sz = [], 0
        cur.append(f)
        cur_sz += s
        if cur_sz >= target:
            bins.append(tuple(cur))
            cur, cur_sz = [], 0
    if cur:
        bins.append(tuple(cur))
    return bins


class OliveReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "olive: 'path' is required (use .load(path)).  If this "
                "scan came from SQL on a CATALOG table (CREATE TABLE … "
                "USING olive), note that this Spark version does not "
                "forward catalog storage options to Python data source "
                "scans — use CREATE TEMPORARY VIEW t USING olive "
                "OPTIONS (path '…') instead, which forwards them"
            )
        self.table = options.get("table")
        cols = options.get("columns")
        self.columns = tuple(c.strip() for c in cols.split(",")) if cols else None
        self.schema = schema
        self.pushdown = str(options.get("pushdown", "false")).lower() == "true"
        self.max_partition_bytes = int(
            options.get("maxpartitionbytes", options.get("maxPartitionBytes", 128 << 20))
        )
        self.open_cost = int(
            options.get("opencostinbytes", options.get("openCostInBytes", 128 << 10))
        )
        # Target scan waves for SMALL tables (big tables get their
        # parallelism from the maxPartitionBytes cap, not this width).
        # Default caps at 8 regardless of core count: Python DS task
        # results funnel through serial driver-side handling, so 16
        # one-file partitions measured 2x SLOWER than 8 packed bins for
        # a warm small count() even on 32 cores.  A derived width also
        # keeps partitions above MIN_PARTITION_BYTES; an explicit
        # scanParallelism option overrides both the cap and the floor.
        opt = options.get("scanparallelism", options.get("scanParallelism", 0))
        if opt:
            self.min_partitions = int(opt)
            self.min_partition_bytes = 0
        else:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0) or (os.cpu_count() or 8))
            self.min_partitions = min(8, cpus)
            self.min_partition_bytes = MIN_PARTITION_BYTES
        snap = options.get("snapshot")
        self.snapshot = int(snap) if snap is not None else None
        stag = options.get("snapshottag", options.get("snapshotTag"))
        if stag is not None:
            if self.snapshot is not None:
                raise ValueError(
                    "olive: 'snapshot' and 'snapshotTag' are exclusive"
                )
            # resolve at PLAN time so a re-tag between plan and execute
            # cannot split one query across two versions
            from olive_spark.format.snapshots import version_for_tag

            self.snapshot = version_for_tag(self.path, stag)
        sasof = options.get("snapshotasof", options.get("snapshotAsOf"))
        if sasof is not None:
            if self.snapshot is not None:
                raise ValueError(
                    "olive: 'snapshotAsOf' is exclusive with "
                    "'snapshot'/'snapshotTag'"
                )
            # Delta's timestampAsOf: latest commit at-or-before the
            # instant; epoch seconds or ISO-8601 (naive = UTC).
            # Resolved at PLAN time like snapshotTag.
            from olive_spark.format.snapshots import version_at_timestamp

            self.snapshot = version_at_timestamp(
                self.path, _parse_asof_timestamp(sasof)
            )
        tg = options.get("txngroup", options.get("txnGroup"))
        if tg is not None:
            # consistent multi-table read (ops/txn.py group root
            # pointer, r12): resolve THIS table's version through the
            # coordinator's atomically-swapped _olive_txn/_root.json —
            # all member tables read all-pre or all-post of any
            # in-flight transaction, never a mix.  Tables no completed
            # txn has written read live (consistency starts with their
            # first group commit).  Resolved at PLAN time like
            # snapshotTag.
            if self.snapshot is not None:
                raise ValueError(
                    "olive: 'txnGroup' is exclusive with "
                    "'snapshot'/'snapshotTag'/'snapshotAsOf'"
                )
            from olive_spark.ops.txn import group_versions

            v = (group_versions(tg) or {}).get(
                os.path.abspath(self.path)
            )
            if v is not None:
                self.snapshot = int(v)
        fl = options.get("files")
        self.files_opt = (
            [n.strip() for n in fl.split(",") if n.strip()]
            if fl is not None else None
        )
        if self.files_opt is not None and not self.files_opt:
            raise ValueError("olive: 'files' option must list >=1 file")
        br = options.get("branch")
        if br is not None:
            # WAP branch preview (ops/branch.py), first-class reader
            # option: base-version files + the branch's staged files
            # with the BASE version's DV state — resolved at PLAN time
            # like snapshotTag, so a publish between plan and execute
            # can't split the scan across two states
            if self.snapshot is not None or self.files_opt is not None \
                    or options.get("dvs") is not None:
                raise ValueError(
                    "olive: 'branch' is exclusive with 'snapshot'/"
                    "'snapshotTag'/'snapshotAsOf'/'files'/'dvs'"
                )
            from olive_spark.format.snapshots import files_at
            from olive_spark.ops.branch import (
                _BRANCH_DIR, _branch_dv_state, _load_ref,
            )

            ref = _load_ref(self.path, br)
            base = (
                files_at(self.path, ref["base_version"])
                if ref["base_version"] else []  # branch on an empty table
            )
            self.files_opt = sorted(base) + [
                os.path.join(_BRANCH_DIR, br, r) for r in ref["files"]
            ]
            if not self.files_opt:
                raise ValueError(
                    f"olive: branch {br!r} and its base are both empty"
                )
            options = dict(options)
            options["dvs"] = json.dumps(
                _branch_dv_state(self.path, br, ref)
            )
        if self.files_opt is not None and self.snapshot is not None:
            raise ValueError("olive: 'files' and 'snapshot' are exclusive")
        self.file_column = options.get("filecolumn", options.get("fileColumn"))
        self.pos_column = options.get("poscolumn", options.get("posColumn"))
        dvs = options.get("dvs")
        self.dvs_opt = json.loads(dvs) if dvs is not None else None
        if self.dvs_opt is not None and not isinstance(self.dvs_opt, dict):
            raise ValueError("olive: 'dvs' must be a JSON object")
        self.dv_select = str(
            options.get("dvmode", options.get("dvMode", "drop"))
        ).lower() == "select"
        if self.dv_select and self.dvs_opt is None:
            raise ValueError("olive: dvMode=select requires the 'dvs' map")
        # RENAME COLUMN read mapping ({current: [old names, newest
        # first]}): loaded once at plan time, ships to workers with the
        # pickled reader; read() projects a renamed column out of
        # pre-rename files under its stored name.  Missing/non-dir path
        # = no renames ({}); a CORRUPT sidecar (including a malformed
        # 'renames' map) raises LOUD here — swallowing it would
        # silently null-fill every renamed column out of old files
        # (r9 review finding).
        from olive_spark.format.table_schema import (
            read_column_mapping,
            read_renames,
        )

        self.renames = read_renames(self.path, self.table)
        # column-mapping ids (activated by rename/drop/add DDL): when
        # present, every stored column resolves by ID — header fids for
        # stamped files, the sidecar's legacy name→id map for older
        # ones — which makes rename/drop/re-add lifecycles exact.  One
        # plan-time GET, ships with the pickled reader.
        self.colmap = read_column_mapping(self.path, self.table)
        # "stable" columns: current name has ALWAYS denoted this id in
        # unstamped files too (legacy binding == current id).  Only
        # these may drive manifest-level pruning, where no header is
        # available to disambiguate — a re-added name's old per-file
        # stats describe the RETIRED column's values, and pruning with
        # them would (e.g.) drop a file whose re-added column is all
        # null from an IS NULL scan.
        self.stable_cols: "set[str] | None" = None
        if self.colmap is not None:
            self.stable_cols = {
                n
                for n, i in zip(self.colmap["names"], self.colmap["fids"])
                if self.colmap["legacy"].get(n) == i
            }
        self.predicates: list[tuple[str, str, Any]] = []

    def partitions(self) -> Sequence[OliveInputPartition]:
        if self.files_opt is not None:
            # explicit file-set scan (snapshot-relative names, resolved
            # live-then-history): the snapshot-DIFF primitive — change
            # feeds read exactly the files two versions disagree on
            from olive_spark.format.snapshots import resolve_paths

            files = resolve_paths(self.path, self.files_opt)
        elif self.snapshot is not None:
            # time travel: scan the file list the snapshot log recorded
            # at that version (live dir, else _olive_history); missing
            # files fail loud — never a silently partial table
            from olive_spark.format.snapshots import files_at, resolve_paths

            files = resolve_paths(
                self.path, files_at(self.path, self.snapshot)
            )
        else:
            files = _list_chunk_files(self.path)
        keep = []
        preds = tuple(self.predicates)
        # Consume-and-clear: read() takes predicates from the partition
        # object, never from self, so clearing can only cost pruning on
        # a re-plan — never rows.
        self.predicates = []
        manifest: dict = {}
        transforms: "list | None" = None
        if preds and os.path.isdir(self.path):
            # one read covers the whole directory; per-file header
            # opens below happen only for files the manifest can't
            # vouch for (missing/stale entry) or can't disprove
            from olive_spark.format.manifest import load_manifest
            from olive_spark.format.partition import read_sidecar

            manifest = load_manifest(self.path)
            # hidden-partition spec (one GET): source-column predicates
            # map onto directory intervals/buckets below; the col index
            # is built once here, not per listed file
            from olive_spark.format.partition import (
                build_transform_index,
            )

            side = read_sidecar(self.path)
            transforms = build_transform_index(side) if side else None
        for fp in files:
            if preds and _dir_prunable(
                self.path, fp, preds, transforms
            ):
                continue  # hive-style col=value segment excluded by filter
            if preds and self._file_prunable(fp, preds, manifest):
                continue
            keep.append(fp)
        if not keep:  # fully pruned: keep one partition for an empty scan
            return [
                OliveInputPartition(
                    (files[0],), self.table, self.columns, (("__none__", "=", 0),)
                )
            ]
        dv_map = self._dv_paths_for(keep)
        return [
            OliveInputPartition(
                bin_, self.table, self.columns, preds,
                dvs=tuple((f, dv_map[f]) for f in bin_ if f in dv_map),
            )
            for bin_ in _pack_files(
                keep, self.max_partition_bytes, self.open_cost,
                self.min_partitions, self.min_partition_bytes,
            )
        ]

    def _dv_paths_for(self, files) -> "dict[str, tuple[str, ...]]":
        """{abs chunk path: (abs DV paths, ...)} under the scan's DV
        state: the explicit ``dvs`` option when given (the change feed
        passes per-version state), else the snapshot's replayed state
        for time travel, else the live ``_olive_dv/`` directory — the
        same directory-is-authority rule as the file listing, so a lost
        snapshot log can never resurrect deleted rows."""
        if not os.path.isdir(self.path):
            return {}
        if self.dvs_opt is not None:
            state = {str(t): list(n) for t, n in self.dvs_opt.items()}
        elif self.snapshot is not None:
            from olive_spark.format.snapshots import dv_state_at

            state = dv_state_at(self.path, self.snapshot)
        else:
            from olive_spark.format.deletion import list_dvs

            state = list_dvs(self.path)
        if not state:
            return {}
        from olive_spark.format.deletion import resolve_dv_paths

        hist_prefix = "_olive_history" + os.sep
        out: dict[str, tuple[str, ...]] = {}
        for fp in files:
            rel = os.path.relpath(fp, self.path)
            if rel.startswith(hist_prefix):
                rel = rel[len(hist_prefix):]
            names = state.get(rel)
            if names:
                out[fp] = tuple(resolve_dv_paths(self.path, names))
        return out

    def _file_prunable(self, fp: str, preds, manifest: dict = {}) -> bool:
        """File-level pruning: the directory manifest's chunk-level
        min/max first (no file open at all — the 100 TB plan-time
        path), then the header's page stats and per-file Bloom filters
        for files the manifest can't vouch for or can't disprove."""
        try:
            from olive_spark.format.manifest import entry_prunable, lookup

            ent = lookup(manifest, self.path, fp)
            # manifest entries key stats by the names STORED at write
            # time; with column mapping, only "stable" columns (name
            # has always meant this id) may prune here — a re-added
            # name's old stats describe the retired column's values
            mpreds = (
                [p for p in preds if p[0] in self.stable_cols]
                if self.stable_cols is not None else list(preds)
            )
            if ent is not None and mpreds and entry_prunable(ent, mpreds):
                return True

            # only the header fallback needs the (numpy/pyarrow-heavy)
            # reader module — manifest-only disproofs never import it
            from olive_spark.format.reader import (
                file_prunable_by_bloom,
                select_pages,
            )

            header, _ = _read_header_bytes(fp)
            th = _pick_table(header, self.table)
            if self.colmap is not None or self.renames:
                # exact per-file translation: current → stored names
                # (ids for stamped files, legacy bindings otherwise);
                # predicates with no stored counterpart prune nothing
                cur_of = _stored_to_current(th, self.colmap, self.renames)
                back = {c: s for s, c in (cur_of or {}).items()}
                preds = [
                    (back[c], op, v) for c, op, v in preds if c in back
                ]
            by_name = dict(zip(th.field_names, th.fields))
            for col, op, _v in preds:
                fh = by_name.get(col)
                if fh is None or fh.null_count is None:
                    continue
                if op == "isnull":
                    if fh.null_count == 0:
                        return True
                    continue
                # all remaining pushed ops are null-rejecting
                if fh.null_count == th.num_rows and th.num_rows > 0:
                    return True
            sel = select_pages(th, list(preds))
            if sel is not None and len(sel) == 0:
                return True
            return file_prunable_by_bloom(th, list(preds))
        except Exception:  # noqa: BLE001 — pruning must never break a scan
            return False

    def read(self, partition: OliveInputPartition) -> Iterator["pa.RecordBatch"]:
        import numpy as np
        import pyarrow as pa

        from olive_spark.format.reader import ChunkReader, select_pages

        expected = _expected_arrow_schema(self.schema)
        if partition.predicates and partition.predicates[0][0] == "__none__":
            yield pa.RecordBatch.from_pylist([], schema=expected)
            return
        dv_lookup = dict(partition.dvs) if partition.dvs else {}
        for fp in partition.files:
            r = ChunkReader.from_path(fp)
            th = _pick_table(r.header, partition.table)
            # Stored→current column resolution for THIS file.
            # current_of is None on tables without column mapping or
            # renames (identity); with mapping it is AUTHORITATIVE: a
            # stored column it does not map belongs to a dropped/
            # renamed-away column and must NOT be read — even when its
            # stored name equals a current column's (DROP x / ADD x).
            current_of = _stored_to_current(th, self.colmap, self.renames)
            remap = (
                {s: c for s, c in current_of.items() if s != c}
                if current_of is not None else {}
            )
            back = (
                {c: s for s, c in current_of.items()}
                if current_of is not None else {}
            )
            preds = list(partition.predicates) if partition.predicates else []
            if preds and current_of is not None:
                # page-stat pruning keys off STORED names; a predicate
                # column with no stored counterpart in this file prunes
                # nothing here (Spark re-applies the filter post-scan)
                preds = [
                    (back[c], op, v) for c, op, v in preds if c in back
                ]
            pages = select_pages(th, preds) if preds else None
            # deletion-vector state FIRST: whole pages the DV decides
            # (fully dead on a folding scan, unmarked on a DV-diff
            # scan) are skipped before any data page is touched
            dv_paths = dv_lookup.get(fp)
            dv_positions = None
            if self.dv_select and not dv_paths:
                continue  # DV-diff scan of a file with no DV: no rows
            if dv_paths:
                from olive_spark.format.deletion import union_positions

                dv_positions = union_positions(
                    dv_paths, th.name
                ).astype("int64")
                pages = _dv_page_filter(
                    th, pages, dv_positions, keep_marked=self.dv_select
                )
            cols = list(partition.columns) if partition.columns else None
            if cols:  # merged-schema dirs: this file may lack some columns
                if current_of is not None:
                    cols = [back[c] for c in cols if c in back] or None
                else:
                    cols = [c for c in cols if c in th.field_names] or None
            tbl = r.read_table(th.name, columns=cols, pages=pages)
            if self.colmap is not None:
                # drop stored columns outside the mapping (their data
                # belongs to retired column ids), then rename; row
                # count survives even a zero-column projection
                keep = [s for s in tbl.column_names if s in current_of]
                tbl = tbl.select(keep).rename_columns(
                    [current_of[s] for s in keep]
                )
            elif remap:
                tbl = tbl.rename_columns(
                    [remap.get(n, n) for n in tbl.column_names]
                )
            # deletion vectors / raw positions: positions index the
            # file's shared row grid, page-selection-aware, so a DV
            # written against the full file folds correctly into any
            # pruned read; positions are table-scoped (a DV against
            # another table of a multi-table chunk never folds here)
            pos = None
            if dv_positions is not None or self.pos_column:
                pos = _file_positions(th, pages)
            if self.dv_select:
                # change-feed DV-diff mode: ONLY the listed positions
                mask = np.isin(pos, dv_positions)
                tbl = tbl.filter(pa.array(mask))
                pos = pos[mask]
            elif dv_positions is not None:
                mask = ~np.isin(pos, dv_positions)
                if not mask.all():
                    tbl = tbl.filter(pa.array(mask))
                    pos = pos[mask]
            if self.file_column:
                # table-relative provenance name; snapshot reads that
                # resolved into _olive_history report the logical name
                rel = (
                    os.path.relpath(fp, self.path)
                    if os.path.isdir(self.path)
                    else os.path.basename(fp)
                )
                hist_prefix = "_olive_history" + os.sep
                if rel.startswith(hist_prefix):
                    rel = rel[len(hist_prefix):]
                tbl = tbl.append_column(
                    self.file_column,
                    pa.array([rel] * tbl.num_rows, pa.string()),
                )
            if self.pos_column:
                tbl = tbl.append_column(
                    self.pos_column, pa.array(pos, pa.int64())
                )
            tbl = _cast_to(tbl, expected)
            yield from tbl.to_batches(max_chunksize=1 << 16)


class OlivePushdownReader(OliveReader):
    """OliveReader variant that implements ``pushFilters``.

    Kept as a SEPARATE class (selected by the ``pushdown`` option in
    ``OliveDataSource.reader``) because Spark's plan-time worker treats
    the mere *presence* of an overridden ``pushFilters`` as "pushdown
    required" and raises ``DATA_SOURCE_PUSHDOWN_DISABLED`` when
    ``spark.sql.python.filterPushdown.enabled`` is false — even if the
    method would be a no-op.  With the split, a plain SparkSession with
    the conf locked/off can still scan olive tables (it just skips
    planning-time file/page pruning); only relations that explicitly
    opt in with ``.option("pushdown", "true")`` require the conf, and
    for those Spark's own error names the exact config line.
    """

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Record prunable predicates; report every filter unsupported so
        Spark re-applies them (page skipping is conservative).

        Predicate-driven pruning is OPT-IN per relation (``pushdown``
        option) because of an upstream Spark hazard: PythonDataSourceV2
        (one instance per loaded relation, shared by every query on that
        DataFrame) holds a single mutable readInfo slot.  A filtered
        query overwrites it (PythonScanBuilder.pushFilters →
        ds.setReadInfo) with our PRUNED partitions; a later FILTER-LESS
        action on the same DataFrame never triggers pushdown, hits
        getOrCreateReadInfo's cache, and silently scans the pruned
        partition list (observed: count()==256 of 500 after a filtered
        collect()).  Queries that carry filters always re-plan and are
        always correct; with pushdown enabled a relation must not serve
        a filter-less action after a filtered one — re-load() instead
        (olive_spark.queries.data.load creates a fresh relation per
        call, which is why the query library can opt in safely)."""
        self.predicates = []
        for f in filters:
            p = _filter_to_predicate(f)
            if p is not None:
                self.predicates.append(p)
        return iter(filters)


def _page_grid(th):
    """(starts, ends) of the file's shared row grid, or None when the
    table has no buffers (all-null / zero-row sentinel)."""
    from olive_spark.format import buffers as B

    ends = None
    for f in th.fields:
        for b in f.buffers.values():
            ends = b.row_index_ends
            break
        if ends is not None:
            break
    if not ends:
        return None
    return B.grid_starts(ends), ends


def _dv_page_filter(th, pages, positions, keep_marked: bool):
    """Page-level deletion-vector pruning (r11 verdict task #8): given
    the sorted unique DV ``positions`` of this file, drop pages the DV
    decides wholesale — fully-deleted pages on a folding scan
    (``keep_marked=False``), pages holding NO marked position on a
    change-feed DV-diff scan (``keep_marked=True``).  Returns the new
    page selection (None = all pages survive untouched, [] = nothing
    to read).  Skipped pages are never decompressed or decoded — a
    delete of a contiguous half of a file halves its scan I/O without
    waiting for materialization."""
    import numpy as np

    grid = _page_grid(th)
    if grid is None or len(positions) == 0:
        return pages if pages is not None else None
    starts, ends = grid
    idx = list(range(len(ends))) if pages is None else list(pages)
    if not idx:
        return idx
    s = np.asarray([starts[i] for i in idx], dtype=np.int64)
    e = np.asarray([ends[i] for i in idx], dtype=np.int64)
    cnt = np.searchsorted(positions, e) - np.searchsorted(positions, s)
    if keep_marked:
        kept = [i for i, c in zip(idx, cnt) if c > 0]
    else:
        kept = [i for i, c, a, b in zip(idx, cnt, s, e) if c < (b - a)]
    if pages is None and len(kept) == len(ends):
        return None  # nothing dropped: keep the no-subset fast path
    return kept


def _stored_to_current(th, colmap, renames) -> "dict[str, str] | None":
    """Resolve one file's STORED column names to the table's CURRENT
    names.  None = identity (no mapping, no renames).  With column
    mapping (``colmap`` from table_schema.read_column_mapping) the
    result is authoritative: stamped files resolve header field-ids
    against the current schema's ids; unstamped files resolve stored
    names through the sidecar's legacy name→id bindings.  Stored
    columns that resolve to no current id are OMITTED — their data
    belongs to dropped/renamed-away columns (a re-added same name is a
    DIFFERENT id, so old values never resurface under it).  Without
    mapping, only rename aliases remap (pre-mapping behavior)."""
    if colmap is not None:
        byfid = dict(zip(colmap["fids"], colmap["names"]))
        names_set = set(colmap["names"])
        legacy = colmap["legacy"]
        out: dict[str, str] = {}
        if th.field_ids is not None:
            for sname, sfid in zip(th.field_names, th.field_ids):
                cur = byfid.get(sfid)
                if cur is not None:
                    out[sname] = cur
        else:
            for sname in th.field_names:
                fid = legacy.get(sname)
                if fid is not None:
                    cur = byfid.get(fid)
                else:
                    # never-bound stored name (hand-written file beside
                    # a mapped table): current-name match, else omitted
                    cur = sname if sname in names_set else None
                if cur is not None:
                    out[sname] = cur
        return out
    if renames:
        fields = set(th.field_names)
        out = {n: n for n in th.field_names}
        for cur, olds in renames.items():
            if cur in fields:
                continue
            for o in olds:
                if o in fields:
                    out[o] = cur
                    break
        return out
    return None


def _file_positions(th, pages):
    """Raw row positions (within the file's shared row grid) of the
    rows a read with ``pages`` selection returns, in read order.  The
    grid comes from any buffer's ``row_index_ends`` — all buffers of a
    chunk share it (reference src/header.zig:41-45)."""
    import numpy as np

    from olive_spark.format import buffers as B

    ends = None
    for f in th.fields:
        for b in f.buffers.values():
            ends = b.row_index_ends
            break
        if ends is not None:
            break
    if ends is None:
        # bufferless table (all-null columns / zero-row sentinel): no
        # grid, but also nothing a page selection could have pruned
        return np.arange(th.num_rows, dtype=np.int64)
    if pages is None:
        return np.arange(ends[-1] if ends else 0, dtype=np.int64)
    starts = B.grid_starts(ends)
    if not pages:
        return np.zeros(0, np.int64)
    return np.concatenate(
        [np.arange(starts[i], ends[i], dtype=np.int64) for i in pages]
    )


def _pick_table(header, name: Optional[str]):
    if name is None:
        if len(header.tables) != 1:
            from olive_spark.format.errors import ValidationError

            raise ValidationError(
                f"multi-table chunk (tables: {[t.name for t in header.tables]}); "
                "set .option('table', name)"
            )
        return header.tables[0]
    for t in header.tables:
        if t.name == name:
            return t
    from olive_spark.format.errors import ValidationError

    raise ValidationError(f"no table {name!r} in chunk")


def _expected_arrow_schema(schema: StructType) -> "pa.Schema":
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


def _cast_to(tbl: "pa.Table", expected: "pa.Schema") -> "pa.Table":
    import pyarrow as pa

    cols = []
    fields = []
    for f in expected:
        if f.name not in tbl.column_names:
            # schema-merged directory: this chunk predates the column —
            # null-fill so every batch matches the session schema
            cols.append(pa.nulls(tbl.num_rows, f.type))
            fields.append(f)
            continue
        col = tbl.column(f.name)
        if col.type != f.type:
            if pa.types.is_interval(col.type) and pa.types.is_struct(f.type):
                col = _interval_to_struct(col, f.type)
                cols.append(col)
                fields.append(f)
                continue
            if (
                pa.types.is_decimal(col.type)
                and col.type.bit_width == 256
                and col.type.precision > 38
                and pa.types.is_binary(f.type)
            ):
                # decimal256 beyond Spark's precision under
                # .option("decimal256", "binary"): surface the 32-byte
                # big-endian two's-complement unscaled integer
                col = _decimal256_to_binary(col)
                cols.append(col)
                fields.append(f)
                continue
            try:
                col = col.cast(f.type)
            except pa.ArrowInvalid:
                # ns→µs timestamps: truncate like every SQL engine does
                import pyarrow.compute as pc

                col = pc.cast(
                    col, f.type, safe=False
                )
        cols.append(col)
        fields.append(f)
    return pa.Table.from_arrays(
        [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c for c in cols],
        schema=pa.schema(fields),
    )


def _decimal256_to_binary(col):
    """decimal256(p>38) → 32-byte big-endian two's-complement unscaled
    integer (Java BigInteger byte order, zero/sign-extended to 32 B).
    Per-value conversion: p>38 decimal columns are checksum/metadata
    scale, not a hot path — same trade as _interval_to_struct."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    scale = col.type.scale
    out = []
    for v in col.to_pylist():
        if v is None:
            out.append(None)
            continue
        # exact unscaled integer via the decimal's digit tuple —
        # Decimal.scaleb would round through the default 28-digit
        # context and silently corrupt >28-significant-digit values
        sign, digits, exp = v.as_tuple()
        unscaled = int("".join(map(str, digits)))
        shift = exp + scale
        if shift < 0:
            raise ValueError(
                f"decimal value {v} has more fractional digits than its "
                f"declared scale {scale}"
            )
        unscaled *= 10 ** shift
        if sign:
            unscaled = -unscaled
        out.append(unscaled.to_bytes(32, "big", signed=True))
    return pa.array(out, pa.binary())


def _interval_to_struct(col, struct_type):
    """month_day_nano interval → {months,days,nanos} struct (Arrow has
    no built-in cast for it; interval columns are metadata-scale, so the
    per-value conversion is not a hot path)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    vals = col.to_pylist()
    return pa.StructArray.from_arrays(
        [
            pa.array([None if v is None else v.months for v in vals], pa.int32()),
            pa.array([None if v is None else v.days for v in vals], pa.int32()),
            pa.array(
                [None if v is None else v.nanoseconds for v in vals], pa.int64()
            ),
        ],
        fields=list(struct_type),
        mask=pa.array([v is None for v in vals], pa.bool_()),
    )


def _dir_prunable(
    root: str, fp: str, preds, transforms: "list | None" = None
) -> bool:
    """Partition pruning on hive-style ``col=value`` path segments: a
    file is skipped when an equality/IN predicate on a partition column
    excludes its directory's value (string-exact — the writer encodes
    with ``quote(str(v))``; range predicates fall through to chunk-stats
    pruning), or when a HIDDEN-partition transform proves the source
    column's predicate can't reach this directory's derived value
    (format/partition.transform_dir_prunable — interval overlap for
    days/months/hours, bucket membership for bucket(N))."""
    import urllib.parse

    rel = os.path.relpath(os.path.dirname(fp), root)
    if rel in (".", ""):
        return False
    vals: dict[str, str] = {}
    for seg in rel.split(os.sep):
        if "=" in seg:
            c, v = seg.split("=", 1)
            vals[c] = urllib.parse.unquote(v)
    if not vals:
        return False
    for col, op, val in preds:
        got = vals.get(col)
        if got is None:
            continue
        if op == "=" and got != str(val):
            return True
        if op == "in" and got not in {str(v) for v in val}:
            return True
    if transforms:
        from olive_spark.format.partition import transform_dir_prunable

        try:
            return transform_dir_prunable(vals, preds, transforms)
        except Exception:  # noqa: BLE001 — pruning must never break a scan
            return False
    return False


def _filter_to_predicate(f: Filter) -> Optional[tuple[str, str, Any]]:
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return None
    col = attr[0]
    if isinstance(f, EqualTo):
        return (col, "=", f.value)
    if isinstance(f, EqualNullSafe):
        # null-safe equal: <=> NULL is IS NULL; <=> v matches only v
        return (col, "isnull", None) if f.value is None else (col, "=", f.value)
    if isinstance(f, GreaterThan):
        return (col, ">", f.value)
    if isinstance(f, GreaterThanOrEqual):
        return (col, ">=", f.value)
    if isinstance(f, LessThan):
        return (col, "<", f.value)
    if isinstance(f, LessThanOrEqual):
        return (col, "<=", f.value)
    if isinstance(f, In):
        return (col, "in", list(f.value))
    if isinstance(f, StringStartsWith):
        return (col, "startswith", f.value)
    if isinstance(f, IsNull):
        return (col, "isnull", None)
    if isinstance(f, IsNotNull):
        return (col, "notnull", None)
    return None


@dataclass
class OliveCommitMessage(WriterCommitMessage):
    files: tuple[str, ...]
    # (relpath, size, {"rows", "columns"}) per file — folded into the
    # directory manifest at driver-side commit (format/manifest.py)
    summaries: tuple = ()


class OliveWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool) -> None:
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("olive: 'path' is required (use .save(path))")
        self.table = options.get("table", "data")
        self.chunk_rows = int(options.get("chunkrows", options.get("chunkRows", 1 << 20)))
        self.page_rows = int(options.get("pagerows", options.get("pageRows", 65536)))
        self.bias = options.get("compressionbias", options.get("compressionBias", "balanced"))
        self.dict_encode = str(options.get("dictencode", options.get("dictEncode", "true"))).lower() == "true"
        self.stats = str(options.get("stats", "true")).lower() == "true"
        bc = options.get("bloomcolumns", options.get("bloomColumns"))
        self.bloom_columns = [c.strip() for c in bc.split(",") if c.strip()] if bc else []
        # opt-in per-file HLL NDV sketches in the manifest entry
        # (format/ndv.py — metadata-only approx COUNT DISTINCT)
        nc = options.get("ndvcolumns", options.get("ndvColumns"))
        self.ndv_columns = (
            [c.strip() for c in nc.split(",") if c.strip()] if nc else []
        )
        bad_ndv = [c for c in self.ndv_columns
                   if c not in {f.name for f in schema.fields}]
        if bad_ndv:
            # a typo'd column would otherwise be silently skipped per
            # chunk and surface months later as a query-time error
            raise ValueError(
                f"olive: ndvColumns {bad_ndv} not in the written "
                f"schema {[f.name for f in schema.fields]}"
            )
        pb = options.get("partitionby", options.get("partitionBy"))
        if pb:
            from olive_spark.format.partition import parse_spec

            self.partition_transforms = parse_spec(pb)
            # dir keys: for identity entries this is the column itself,
            # so the classic hive path is unchanged; transforms group
            # on a derived column that is dropped before data lands
            self.partition_by = [t["dir"] for t in self.partition_transforms]
            field_names = {f.name for f in schema.fields}
            bad_src = [
                t["col"] for t in self.partition_transforms
                if t["col"] not in field_names
            ]
            if bad_src:
                raise ValueError(
                    f"olive: partitionBy source columns {bad_src} not in "
                    f"the written schema {sorted(field_names)}"
                )
            clash = [
                t["dir"] for t in self.partition_transforms
                if t["kind"] != "identity" and t["dir"] in field_names
            ]
            if clash:
                # appending the derived temp column would duplicate the
                # name and crash deep inside a task — refuse at plan time
                raise ValueError(
                    f"olive: partitionBy derived dir keys {clash} collide "
                    "with data columns of the same name — rename the "
                    "column or the transform source"
                )
        else:
            self.partition_transforms = []
            self.partition_by = []
        # write-time clustering: sort every chunk on these columns
        # before it lands, so the per-page min/max grid is tight from
        # the first write (compact(sort_by=...) is the maintenance-time
        # equivalent; CROSS-file clustering still needs an upstream
        # repartitionByRange, same discipline as partitionBy)
        sb = options.get("sortby", options.get("sortBy"))
        self.sort_by = (
            [c.strip() for c in sb.split(",") if c.strip()] if sb else []
        )
        missing = [c for c in self.sort_by
                   if c not in {f.name for f in schema.fields}]
        if missing:
            raise ValueError(
                f"olive: sortBy columns {missing} not in the written "
                f"schema {[f.name for f in schema.fields]}"
            )
        # bound the snapshot log on the batch path too: every append
        # rewrites the full JSON log, so an unbounded long-lived table
        # with frequent small appends pays O(n) per commit (O(n^2)
        # cumulative).  4096 retained versions ≈ months of hourly
        # appends; older ones collapse into a reset base (time travel
        # beyond the window is what vacuum(retain_snapshots=K) is for).
        self.snapshot_max_entries = int(
            options.get("snapshotmaxentries",
                        options.get("snapshotMaxEntries", 4096))
        )
        # opt-in snapshot-entry tag for this commit: lets a caller
        # (e.g. matview refresh via merge_upsert's pure-insert path)
        # later tell whether THIS append landed, for crash recovery
        self.commit_tag = options.get(
            "committag", options.get("commitTag")
        )
        self.overwrite = overwrite
        # Column-mapping ids: on a MAPPED table (the sidecar assigned
        # field-ids — table_schema.py), reserve/resolve an id for every
        # written column at plan time (driver-side, under the metadata
        # commit lock) and stamp them into each chunk header at write.
        # With ids, re-using a DROPped name is SAFE — the new column
        # gets a fresh id, old files' same-named data stays bound to
        # the retired id — so the per-name tombstone refusal below only
        # applies to unmapped tables.  Overwrite resets the table (and
        # its sidecar), so it is exempt from both.
        self.field_ids: "dict | None" = None
        if not overwrite and self.path and os.path.isdir(self.path):
            from olive_spark.format.table_schema import (
                read_column_mapping,
                read_dropped_columns,
            )

            if read_column_mapping(self.path, self.table) is not None:
                from olive_spark.format.table_schema import (
                    reserve_field_ids,
                )

                self.field_ids = reserve_field_ids(
                    self.path, self.table,
                    [f.name for f in schema.fields],
                )
            else:
                # DROP COLUMN tombstones (unmapped tables): an append
                # carrying a dropped name would resurface OLD files'
                # values under it (the projection is by name) — refuse
                # at plan time, before any file lands.
                tomb = set(read_dropped_columns(self.path, self.table))
                bad = sorted(
                    f.name for f in schema.fields if f.name in tomb
                )
                if bad:
                    raise ValueError(
                        f"olive: columns {bad} were DROPped from table "
                        f"{self.table!r}: old files still hold their values, "
                        "so appending the name would resurface stale data — "
                        "use a new name, or overwrite/rewrite the table"
                    )
        # explicit override (rewrites staging into a DIFFERENT directory
        # that will be swapped into a mapped table pass the mapping in,
        # since the staging dir has no sidecar to derive it from)
        fid_opt = options.get("fieldids", options.get("fieldIds"))
        if fid_opt:
            ids = json.loads(fid_opt)
            if not isinstance(ids, dict):
                raise ValueError("olive: 'fieldIds' must be a JSON object")
            self.field_ids = {str(k): int(v) for k, v in ids.items()}

    def _emit(self, tbl: "pa.Table", subdir: str, files: list) -> None:
        from olive_spark.format.writer import write_chunk

        if self.sort_by:
            tbl = tbl.sort_by([(c, "ascending") for c in self.sort_by])
        blob = write_chunk(
            {self.table: tbl},
            page_rows=self.page_rows,
            compression_bias=self.bias,
            dict_encode=self.dict_encode,
            collect_stats=self.stats,
            bloom_columns=self.bloom_columns,
            field_ids=self.field_ids,
        )
        d = os.path.join(self.path, subdir) if subdir else self.path
        os.makedirs(d, exist_ok=True)
        fp = os.path.join(d, _chunk_file_name(self._task))
        with open(fp, "wb") as f:
            f.write(blob)
        files.append(fp)
        if self.stats:
            from olive_spark.format.manifest import table_summary

            ent = table_summary(tbl)
            ent["size"] = len(blob)
            if self.ndv_columns:
                from olive_spark.format import ndv

                ent["ndv"] = {
                    c: ndv.encode(ndv.sketch_from_array(tbl.column(c)))
                    for c in self.ndv_columns
                    if c in tbl.column_names
                }
            self._summaries.append((os.path.relpath(fp, self.path), ent))

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> OliveCommitMessage:
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        self._task = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self.path, exist_ok=True)
        files: list[str] = []
        self._summaries: list[tuple] = []

        if self.partition_by:
            return self._write_partitioned(iterator, files)

        buf: list[pa.RecordBatch] = []
        rows = 0
        schema: Optional[pa.Schema] = None
        for batch in iterator:
            schema = schema or batch.schema
            buf.append(batch)
            rows += batch.num_rows
            while rows >= self.chunk_rows:
                # split on the chunk boundary even inside a large batch —
                # this is what enforces the 4 GiB data-section cap at scale
                tbl = pa.Table.from_batches(buf)
                self._emit(tbl.slice(0, self.chunk_rows), "", files)
                rest = tbl.slice(self.chunk_rows)
                buf = rest.to_batches() if rest.num_rows else []
                rows = rest.num_rows
        if rows:
            self._emit(pa.Table.from_batches(buf, schema=schema), "", files)
        return OliveCommitMessage(tuple(files), tuple(self._summaries))

    def _write_partitioned(self, iterator, files: list) -> OliveCommitMessage:
        """Hive-style layout: path/col=value/.../part-*.olive, one chunk
        file set per distinct partition tuple per task.  Partition columns
        stay IN the data (no virtual-column reconstruction on read); the
        directory name is a pruning index, not the storage of the value.

        At scale the caller should `df.repartition(*partition_cols)` (or
        range-partition) before writing so each task holds few distinct
        tuples — the same discipline Spark's own parquet partitionBy
        needs.  Each partition key's buffer is flushed as soon as it
        reaches ``chunk_rows`` (never the whole task input at once), so
        task memory is bounded by (keys-in-flight × chunk_rows) even for
        skewed/high-cardinality keys.  Null partition values route to
        the hive ``__HIVE_DEFAULT_PARTITION__`` directory — they MUST
        NOT be dropped (an equality mask would silently lose them)."""
        import urllib.parse

        import pyarrow as pa
        import pyarrow.compute as pc

        groups: dict[tuple, list] = {}
        counts: dict[tuple, int] = {}
        subdirs: dict[tuple, str] = {}

        def flush(key: tuple, final: bool) -> None:
            sub = pa.concat_tables(groups[key])
            off = 0
            while sub.num_rows - off >= self.chunk_rows:
                self._emit(sub.slice(off, self.chunk_rows), subdirs[key], files)
                off += self.chunk_rows
            rest = sub.slice(off)
            if final and rest.num_rows:
                self._emit(rest, subdirs[key], files)
                rest = rest.slice(0, 0)
            groups[key] = [rest] if rest.num_rows else []
            counts[key] = rest.num_rows

        from olive_spark.format.partition import derive_array

        hidden = [
            t["dir"] for t in self.partition_transforms
            if t["kind"] != "identity"
        ]
        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            # hidden-partition transforms: the derived dir value rides
            # as a TEMP column for grouping/naming and is dropped before
            # data lands — queries only ever see the source column
            for t in self.partition_transforms:
                if t["kind"] != "identity":
                    tbl = tbl.append_column(
                        t["dir"], derive_array(tbl, t)
                    )
            # group_by preserves value types (and keeps null groups);
            # iterate distinct tuples
            keys = tbl.select(self.partition_by)
            distinct = keys.group_by(self.partition_by).aggregate([])
            for row in distinct.to_pylist():
                mask = None
                for c in self.partition_by:
                    col = tbl.column(c)
                    m = (
                        pc.is_null(col)
                        if row[c] is None
                        else pc.equal(col, pa.scalar(row[c]))
                    )
                    mask = m if mask is None else pc.and_(mask, m)
                sub = tbl.filter(mask)
                if hidden:
                    sub = sub.drop_columns(hidden)
                key = tuple(row[c] for c in self.partition_by)
                if key not in subdirs:
                    subdirs[key] = "/".join(
                        f"{c}=__HIVE_DEFAULT_PARTITION__"
                        if v is None
                        else f"{c}={urllib.parse.quote(str(v), safe='')}"
                        for c, v in zip(self.partition_by, key)
                    )
                groups.setdefault(key, []).append(sub)
                counts[key] = counts.get(key, 0) + sub.num_rows
                if counts[key] >= self.chunk_rows:
                    flush(key, final=False)
        for key in groups:
            if counts[key]:
                flush(key, final=True)
        return OliveCommitMessage(tuple(files), tuple(self._summaries))

    def commit(self, messages) -> None:
        # files are final on write; the commit's job is the metadata —
        # one atomic read-merge-replace each for the stats manifest and
        # the snapshot log on the driver (both advisory: a crash before
        # this point costs pruning / time travel, not rows)
        added = [fp for m in messages if m is not None for fp in m.files]
        if not added:
            # every task was empty (filter matched nothing — routine in
            # big pipelines): persist ONE schema-bearing empty chunk so
            # the table still round-trips instead of failing on read
            added = [self._write_empty_table()]
        # sidecar BEFORE the snapshot commit (same crash ordering as
        # maintenance._seed_evolved_sidecar): a declared-but-dataless
        # column null-fills harmlessly; committed data behind a stale
        # sidecar vanishes from every default scan
        self._sync_schema_sidecar(added)
        self._sync_partition_sidecar()
        self._merge_manifest(messages)
        self._log_snapshot(added)

    def _sync_partition_sidecar(self) -> None:
        # record the hidden-partition spec so scans can map source-
        # column predicates onto directory intervals (and maintenance
        # ops know to refuse rewrites); conflicting re-specs fail loud
        # inside write_sidecar.  Shared by the batch AND stream commit
        # paths — a stream-written hidden table without the sidecar
        # would silently bypass both pruning and the rewrite refusal.
        from olive_spark.format.partition import (
            has_transforms,
            write_sidecar,
        )

        if has_transforms(self.partition_transforms):
            write_sidecar(self.path, self.partition_transforms)

    def _sync_schema_sidecar(self, added: "list[str]") -> None:
        # an EVOLVED table's schema authority is the sidecar; a plain
        # append that carries columns beyond it would otherwise commit
        # data the sidecar hides from every default scan — the same
        # silently-dropped-column hole evolution closed.  Only extends
        # an EXISTING sidecar (no sidecar → first-file-header semantics
        # are unchanged); types come from a written file's header, the
        # same authority merge's evolution reconciles against.
        from olive_spark.format.table_schema import (
            read_table_schema,
            write_table_schema,
        )

        side = read_table_schema(self.path, self.table)
        if side is None:
            return
        names, types = side
        written = [f.name for f in self.schema.fields]
        if all(c in names for c in written):
            return
        header, _ = _read_header_bytes(added[0])
        th = _pick_table(header, self.table)
        for n, tj in zip(th.field_names, th.field_types):
            if n not in names:
                names.append(n)
                types.append(tj)
        write_table_schema(self.path, th.name, names, types)

    def _log_snapshot(self, added: "list[str]") -> None:
        # overwrite wiped prior files before tasks ran — the snapshot
        # starts fresh (old versions stay replayable only while their
        # files survive, i.e. not after an overwrite: it deletes, by
        # design)
        _append_snapshot_entry(
            self.path, added, reset=self.overwrite,
            tag=self.commit_tag,
            max_entries=self.snapshot_max_entries,
        )

    def _write_empty_table(self) -> str:
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        from olive_spark.format.writer import write_chunk

        empty = pa.table(
            {f.name: pa.nulls(0, f.type) for f in to_arrow_schema(self.schema)}
        )
        blob = write_chunk(
            {self.table: empty}, page_rows=self.page_rows,
            field_ids=self.field_ids,
        )
        os.makedirs(self.path, exist_ok=True)
        fp = os.path.join(self.path, _chunk_file_name())
        with open(fp, "wb") as f:
            f.write(blob)
        return fp

    def _merge_manifest(self, messages) -> None:
        from olive_spark.format.manifest import merge_manifest

        entries = {}
        for m in messages:
            if m is not None:
                for rel, ent in getattr(m, "summaries", ()):
                    entries[rel] = ent
        try:
            merge_manifest(self.path, entries)
        except OSError:
            pass  # read-only dir etc. — manifest is optional metadata

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                for fp in m.files:
                    try:
                        os.remove(fp)
                    except OSError:
                        pass


class OliveStreamReader(DataSourceStreamReader):
    """Streaming scan: the chunk-file directory is an append-only log;
    offsets are indices into the sorted file list, one scan partition per
    new file (the reference format is batch-only — streaming is this
    engine's extension, SURVEY.md §2.6)."""

    def __init__(self, options: dict, schema: StructType) -> None:
        self._batch = OliveReader(options, schema)
        self.path = options.get("path")
        # Admission control (maxFilesPerTrigger / maxBytesPerTrigger):
        # bound how much backlog one microbatch swallows — at scale an
        # ingest surge can queue thousands of pending chunk files, and
        # an unbounded batch means an hours-long epoch with no
        # checkpoint progress (one failure = redo everything).  The
        # Python DSv2 API has no ReadLimit hook, so the cap lives inside
        # latestOffset(): advance an internal frontier by at most the
        # cap per call.  Measured protocol (one reader instance per run;
        # latestOffset fires BEFORE initialOffset; partitions(start,end)
        # per batch): the checkpointed offset is never exposed directly,
        # so when the frontier is still unknown — the very first
        # latestOffset of a run — the call is UNCAPPED: returning a
        # capped offset there could land BEHIND the committed offset of
        # a restarted query, and Spark would then re-read consumed files
        # (offsets are opaque JSON; there is no monotonicity guard).
        # Consequently the cap applies from the second microbatch of a
        # run, and immediately when a crash-replay calls partitions()
        # first (which reveals the committed range); under
        # trigger(availableNow=True) Spark captures the first
        # (uncapped) offset as the run target, so without extra state
        # the cap is ignored there entirely.
        #
        # admissionStateDir closes that hole: when set, partitions()
        # mirrors each PLANNED end offset to <dir>/frontier.json
        # (atomic tmp+replace).  Planned is the right moment — Spark's
        # own WAL pins the range at plan time and a crash replays
        # exactly it, so the sidecar can never claim an index the
        # checkpoint won't reach (measured: the source commit()
        # callback is lazy — it fires just before the NEXT batch is
        # constructed, so a one-batch availableNow run never sees it).
        # The next run's first latestOffset then caps FROM the sidecar
        # instead of swallowing the whole backlog, which (a) fixes the
        # crash-restart-with-backlog hole for continuous triggers and
        # (b) makes availableNow catch-up drainable in cap-bounded
        # epochs: each run processes one capped batch and commits, and
        # repeating runs until no progress replaces the single giant
        # epoch (streaming.ops.drain_available_now does the loop).
        # Like the sink's commit log, the state dir pairs with ONE
        # query's checkpoint; absence or corruption only means the
        # first batch of the next run is uncapped (the old behavior),
        # never data loss or duplication — offsets remain Spark's WAL's.
        mf = options.get("maxfilespertrigger", options.get("maxFilesPerTrigger"))
        mb = options.get("maxbytespertrigger", options.get("maxBytesPerTrigger"))
        self._max_files = int(mf) if mf is not None else None
        self._max_bytes = int(mb) if mb is not None else None
        if self._max_files is not None and self._max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        self._state_dir = options.get(
            "admissionstatedir", options.get("admissionStateDir")
        )
        # startingSnapshot=N: begin the stream AFTER snapshot N's files
        # (backfill-then-stream: process version N as a batch, stream
        # only what arrived since).  Valid for append-only logs, where
        # a snapshot's files are a PREFIX of the sorted listing —
        # initialOffset verifies that and fails loud if compaction
        # reshuffled the listing.
        ss = options.get("startingsnapshot", options.get("startingSnapshot"))
        self._starting_snapshot = int(ss) if ss is not None else None
        self._snapshot_start_idx: "int | None" = None  # validated once
        self._frontier: "int | None" = None
        self._persisted: "int | None" = None  # last sidecar write

    def _files(self) -> list[str]:
        try:
            return _list_chunk_files(self.path)
        except Exception:  # noqa: BLE001 — empty dir: no data yet
            return []

    def _frontier_path(self) -> str:
        return os.path.join(self._state_dir, "frontier.json")

    def _load_frontier(self) -> "int | None":
        try:
            with open(self._frontier_path()) as f:
                doc = json.load(f)
            idx = doc.get("index") if isinstance(doc, dict) else None
            return int(idx) if isinstance(idx, int) and idx >= 0 else None
        except (OSError, ValueError):
            return None

    def _persist_frontier(self, index: int) -> None:
        """Best-effort atomic mirror of the frontier; a lost write only
        means the next run's first batch is uncapped."""
        try:
            os.makedirs(self._state_dir, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=self._state_dir, suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                json.dump({"index": int(index)}, f)
            os.replace(tmp, self._frontier_path())
            self._persisted = int(index)
        except OSError:
            pass

    def initialOffset(self) -> dict:
        # note: the runner calls latestOffset before this, so a fresh
        # query's first batch is already constructed by the time the
        # frontier could be seeded here
        self._frontier = 0 if self._frontier is None else self._frontier
        if self._starting_snapshot is not None:
            return {"index": self._snapshot_start()}
        return {"index": 0}

    def _snapshot_start(self) -> int:
        """Validated start index for startingSnapshot: the snapshot's
        files must be a PREFIX of the current sorted listing (true for
        append-only logs; compaction/overwrite break it — fail loud,
        and distinguish an unlistable directory from a reshuffled
        one).

        The validated index is cached after the first success: the
        boundary is a property of the (immutable) snapshot, so a
        long-running stream must not replay the log + relist the whole
        directory on every capped latestOffset — nor die on a transient
        unlistable blip mid-run once the start was already proven."""
        if self._snapshot_start_idx is not None:
            return self._snapshot_start_idx
        from olive_spark.format.errors import ValidationError
        from olive_spark.format.snapshots import files_at

        snap = files_at(self.path, self._starting_snapshot)
        current = [os.path.relpath(f, self.path) for f in self._files()]
        if not current:
            raise ValidationError(
                f"startingSnapshot={self._starting_snapshot}: the source "
                f"directory {self.path} cannot be listed right now "
                "(empty or transient I/O error) — not a snapshot "
                "mismatch; retry once the directory is readable"
            )
        if current[: len(snap)] != snap:
            raise ValidationError(
                f"startingSnapshot={self._starting_snapshot} is not a "
                "prefix of the current listing — the table was "
                "compacted or overwritten since; stream from the "
                "current state instead"
            )
        self._snapshot_start_idx = len(snap)
        return self._snapshot_start_idx

    def _admit(self, files: "Sequence[str]") -> int:
        """End index for the next batch under the configured caps."""
        total = len(files)
        if self._max_files is None and self._max_bytes is None:
            return total
        if self._frontier is None and self._state_dir is not None:
            # sidecar if present; else 0 — with a state dir EVERY batch
            # is capped, including a fresh query's first (upstream
            # FileStreamSource parity).  A restart whose sidecar was
            # lost caps from 0 too; partitions() fails loud (and
            # re-seeds the sidecar from the committed offset) if that
            # ever lands behind the checkpoint.
            self._frontier = self._load_frontier() or 0
        if self._starting_snapshot is not None:
            # a capped fresh query starts AT the snapshot boundary, not
            # at 0 — otherwise the first planned end lands below the
            # initialOffset and the first batch dies on the
            # behind-committed guard (found by review, live repro)
            self._frontier = max(self._frontier or 0, self._snapshot_start())
        if self._frontier is None:
            return total
        start = min(self._frontier, total)
        end = total
        if self._max_files is not None:
            end = min(end, start + self._max_files)
        if self._max_bytes is not None:
            budget = self._max_bytes
            i = start
            while i < end:
                try:
                    budget -= os.path.getsize(files[i])
                except OSError:
                    pass
                i += 1
                if budget <= 0:
                    break  # always admit >= 1 file so progress is made
            end = i
        return max(end, start)

    @staticmethod
    def _listing_digest(files: "Sequence[str]") -> str:
        import hashlib

        names = "\n".join(os.path.basename(f) for f in files)
        return hashlib.sha256(names.encode()).hexdigest()[:16]

    def latestOffset(self) -> dict:
        files = self._files()
        # the digest lets partitions() verify the directory is still the
        # append-only log the index offsets assume: timestamp-prefixed
        # names make appends sort at the END, so the digest of the first
        # `index` names is invariant under appends but changes on any
        # delete, rename, or mid-list insertion (compaction, vacuum,
        # out-of-order writers)
        end = self._admit(files)
        self._frontier = end
        if self._state_dir is not None and end != self._persisted:
            # Persist the speculative end too (only when it changed —
            # an idle poll loop must not rewrite the sidecar every
            # trigger): a capped no-op poll of a restart whose sidecar
            # lagged still advances the sidecar, so repeated
            # availableNow runs converge on the checkpoint instead of
            # re-capping from the same stale index forever.  Trade-off
            # (documented): this value is not yet WAL-pinned, so a
            # crash after this write but before Spark logs the batch
            # leaves the sidecar one cap ahead of committed — the next
            # run's first batch then spans up to 2x the cap, once.
            # Bounded and self-correcting; the alternative (planned-
            # only persistence) permanently stalls availableNow drains
            # whose sidecar lags the checkpoint.
            self._persist_frontier(end)
        return {
            "index": end,
            "digest": self._listing_digest(files[:end]),
        }

    def partitions(self, start: dict, end: dict) -> Sequence[OliveInputPartition]:
        # offsets bound the MICROBATCH (indices into the sorted file
        # list); partitions within one batch can bin-pack freely — the
        # checkpoint records only the end offset, never partition shapes
        all_files = self._files()
        from olive_spark.format.errors import ValidationError

        if end["index"] > len(all_files):
            raise ValidationError(
                "streaming source directory shrank below the committed "
                "offset — files were deleted or rewritten (compact/vacuum "
                "must not run on a directory being streamed)"
            )
        if end["index"] < start["index"]:
            # a lost/stale admission sidecar made latestOffset cap
            # BEHIND the committed offset.  Committing this batch would
            # regress the checkpoint and re-deliver consumed files, so
            # fail loud — and re-seed the sidecar from the committed
            # offset first, so the next (re)start caps correctly.
            if self._state_dir is not None:
                self._persist_frontier(start["index"])
            raise ValidationError(
                "admission sidecar behind the committed offset "
                f"(planned end {end['index']} < committed {start['index']}) "
                "— the admissionStateDir was cleared or points at another "
                "query's state; it has been re-seeded, restart the query"
            )
        digest = end.get("digest")
        if digest is not None and (
            self._listing_digest(all_files[: end["index"]]) != digest
        ):
            raise ValidationError(
                "streaming source directory changed non-append-only: the "
                f"first {end['index']} files no longer match the "
                "checkpointed listing — a writer inserted, renamed, or "
                "replaced files out of order (compact/vacuum on a "
                "streamed directory?)"
            )
        # a restarted query reveals its checkpointed range here before
        # any latestOffset fires — learn it so the admission cap never
        # regresses the frontier behind the committed offset
        self._frontier = max(self._frontier or 0, end["index"])
        # mirror the PLANNED end offset: Spark's WAL pins this range at
        # plan time and a crash replays exactly it, so the next run's
        # first latestOffset caps from here instead of eating the
        # backlog (latestOffset also mirrors its speculative end — see
        # the trade-off note there)
        if self._state_dir is not None and end["index"] != self._persisted:
            self._persist_frontier(end["index"])
        files = all_files[start["index"] : end["index"]]
        if not files:
            return []
        # deletion vectors: fold the CURRENT DV state at batch plan
        # time — a DV'd row must not re-enter the stream (the listing
        # digest doesn't change on a DV commit, so without this the
        # deleted rows would silently flow).  DVs added after a file's
        # batch was planned don't retro-apply, per stream semantics.
        dv_map = self._batch._dv_paths_for(files)
        return [
            OliveInputPartition(
                bin_, self._batch.table, self._batch.columns, (),
                dvs=tuple((f, dv_map[f]) for f in bin_ if f in dv_map),
            )
            for bin_ in _pack_files(
                files,
                self._batch.max_partition_bytes,
                self._batch.open_cost,
                self._batch.min_partitions,
                self._batch.min_partition_bytes,
            )
        ]

    def read(self, partition: OliveInputPartition) -> Iterator["pa.RecordBatch"]:
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


def _append_snapshot_entry(
    table_path: str, added_abs: "list[str]", reset: bool = False,
    tag: "str | None" = None, max_entries: "int | None" = None,
) -> None:
    """Shared best-effort snapshot append for both commit paths (batch
    writer + streaming sink): map absolute file paths to table-relative
    names and record one log entry.  Advisory metadata — but a STALE
    log is worse than none (every later snapshot would silently omit
    this commit's files), so an append failure invalidates the log:
    absent degrades to a loud 'no snapshot log', never a partial
    table."""
    from olive_spark.format.snapshots import append_entry, log_path

    try:
        append_entry(
            table_path,
            add=[os.path.relpath(fp, table_path) for fp in added_abs],
            reset=reset,
            tag=tag,
            max_entries=max_entries,
            op="overwrite" if reset else "append",
        )
    except OSError:
        try:
            os.remove(log_path(table_path))
        except OSError:
            pass


def _load_compacted_log(log_dir: str) -> "dict | None":
    """The folded stream-sink commit log ({"batches": {id: [files]}}),
    or None when absent/unreadable (callers then rely on the individual
    per-batch logs, which are never deleted before being folded in)."""
    try:
        with open(os.path.join(log_dir, "compacted.json")) as f:
            doc = json.load(f)
        # a log corrupted into valid non-object JSON (list/string/number)
        # must take the None path too, not AttributeError out of commit
        if not isinstance(doc, dict) or not isinstance(doc.get("batches"), dict):
            return None
        return doc
    except (OSError, ValueError):
        return None


class OliveStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: each microbatch's partitions write chunk files via
    the batch writer; abort removes that batch's files.

    Exactly-once: Spark re-executes a microbatch whose epoch failed
    between task completion and checkpoint commit, and the re-execution
    calls ``commit`` again with the SAME ``batchId`` — without
    deduplication every replay appends a second copy of the batch's
    rows (new uuid chunk names, so filenames never collide).  The sink
    therefore keeps a per-batch commit log
    (``_olive_stream_log/<batchId>.json``, atomic tmp+replace, invisible
    to scans which only list ``*.olive``): a ``commit`` that finds its
    batchId already logged is a replay, so it deletes the files this
    execution just wrote and keeps the logged originals.  Same contract
    as Spark's own FileStreamSink metadata log — which also means the
    same caveat: the sink directory and the checkpoint must live and die
    together (re-running with a FRESH checkpoint into an old sink dir
    re-issues batchIds the log already contains and their output would
    be discarded — use a fresh sink dir, or ``.option("exactlyOnce",
    "false")`` to fall back to at-least-once appends)."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool) -> None:
        self._batch = OliveWriter(options, schema, overwrite)
        self._exactly_once = (
            str(options.get("exactlyonce", options.get("exactlyOnce", "true"))).lower()
            == "true"
        )
        self._log_dir = os.path.join(self._batch.path, "_olive_stream_log")
        # folded batch ids, loaded lazily ONCE per writer and maintained
        # by _maybe_compact_log — without it every new-batch commit after
        # the first compaction would re-parse the O(history) compacted
        # log just to miss the single-file fast path
        self._compacted_ids: "set[str] | None" = None

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> OliveCommitMessage:
        return self._batch.write(iterator)

    def _log_path(self, batchId: int) -> str:
        return os.path.join(self._log_dir, f"{int(batchId)}.json")

    # snapshot-log bound for stream sinks: one entry per epoch would
    # otherwise grow the log with stream age (O(n^2) cumulative rewrite
    # I/O); past this, the oldest entries collapse into a base entry
    _SNAPSHOT_MAX_ENTRIES = 1024

    def commit(self, messages, batchId: int) -> None:
        files = [
            fp for m in messages if m is not None for fp in m.files
        ]
        if files:
            # evolved-table hole, streaming edition: a microbatch that
            # carries columns beyond the schema sidecar must extend it
            # or default scans hide the committed columns.  BEFORE the
            # manifest/epoch log (sidecar-first crash ordering, same as
            # the batch writer): a failure here fails the epoch cleanly
            # — files unlogged, abort removes them
            self._batch._sync_schema_sidecar(files)
            # hidden-partition spec, streaming edition: without it a
            # stream-written days(ts) table would silently skip both
            # transform pruning AND the rewrite-op refusal
            self._batch._sync_partition_sidecar()
        if not self._exactly_once:
            self._batch._merge_manifest(messages)
            self._log_snapshot(messages, batchId)
            return
        if self._is_committed(batchId):
            # replay of an already-committed epoch: the logged files
            # are the batch's output; this execution's are duplicates
            self._batch.abort(messages)
            self._ensure_snapshot_for_replay(batchId)
            return
        # ORDER MATTERS: the log write is the FINAL act.  If anything in
        # commit fails after the log existed, a later abort() would
        # delete the batch's files while the log still marks the batch
        # committed — and the restart's replay would then be discarded
        # as a duplicate, silently losing the batch.  Manifest first
        # (advisory: entries for files a subsequent abort removes are
        # ignored by the size/existence check), then the atomic log
        # replace, then nothing.
        self._batch._merge_manifest(messages)
        rels = sorted(
            os.path.relpath(fp, self._batch.path)
            for m in messages
            if m is not None
            for fp in m.files
        )
        os.makedirs(self._log_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            prefix=f".batch-{int(batchId)}-", suffix=".tmp", dir=self._log_dir
        )
        try:
            with os.fdopen(fd, "w") as f:
                json.dump({"batch_id": int(batchId), "files": rels}, f)
            os.replace(tmp, self._log_path(batchId))
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        # STRICTLY best-effort from here: the batch log is durable, so
        # nothing after it may raise — a post-log exception would fail
        # the epoch, abort() would delete the batch's files, and the
        # replay would then be discarded as a committed duplicate (the
        # data-loss ordering this commit sequence exists to prevent)
        try:
            self._maybe_compact_log()
        except BaseException:  # noqa: BLE001
            pass
        try:
            self._log_snapshot(messages, batchId)
        except BaseException:  # noqa: BLE001 — post-log, must not raise
            pass

    def _log_snapshot(self, messages, batchId: int) -> None:
        """One snapshot version per committed epoch, tagged with the
        batch id so a replay can tell whether the entry ever landed."""
        added = [
            fp for m in messages if m is not None for fp in m.files
        ]
        if added:
            _append_snapshot_entry(
                self._batch.path, added, tag=f"b{int(batchId)}",
                max_entries=self._SNAPSHOT_MAX_ENTRIES,
            )

    def _ensure_snapshot_for_replay(self, batchId: int) -> None:
        """Close the crash window between the durable batch log and the
        snapshot append: a replayed epoch whose snapshot entry never
        landed re-logs it from the batch log's file list (skipped when
        the tag exists or the files are already live — e.g. absorbed
        into a collapsed base entry)."""
        from olive_spark.format import snapshots

        try:
            tag = f"b{int(batchId)}"
            if snapshots.has_tag(self._batch.path, tag):
                return
            rels = self._committed_files(batchId)
            if not rels:
                return
            cur = snapshots.current_version(self._batch.path)
            live = set(
                snapshots.files_at(self._batch.path, cur)
            ) if cur else set()
            if set(rels) <= live:
                return
            snapshots.append_entry(
                self._batch.path, add=rels, tag=tag,
                max_entries=self._SNAPSHOT_MAX_ENTRIES,
                op="stream-epoch",
            )
        except Exception:  # noqa: BLE001 — advisory, replay must not fail
            pass

    def _committed_files(self, batchId: int) -> "list[str]":
        try:
            with open(self._log_path(batchId)) as f:
                doc = json.load(f)
            return list(doc.get("files", [])) if isinstance(doc, dict) else []
        except (OSError, ValueError):
            comp = _load_compacted_log(self._log_dir)
            if comp is not None:
                return list(comp["batches"].get(str(int(batchId)), []))
            return []

    def _is_committed(self, batchId: int) -> bool:
        if os.path.exists(self._log_path(batchId)):
            return True
        if self._compacted_ids is None:
            comp = _load_compacted_log(self._log_dir)
            self._compacted_ids = (
                set(comp["batches"]) if comp is not None else set()
            )
        return str(int(batchId)) in self._compacted_ids

    def _maybe_compact_log(self) -> None:
        """Fold individual per-batch logs into one compacted.json once
        enough READABLE ones accumulate — a maxFilesPerTrigger=1 stream
        commits one tiny log per ingested file, and an unbounded
        directory makes the replay check, listings, and
        vacuum_stream_sink O(all batches) (Spark's FileStreamSink
        compacts its metadata log for the same reason).  Single-writer
        sink ⇒ no coordination needed; the new compacted file is
        replaced atomically BEFORE the individual logs it swallowed are
        deleted, so a crash anywhere leaves every batch discoverable
        (worst case: twice).  Unreadable singles are kept as-is and do
        NOT count toward the threshold — counting them would make every
        commit rewrite the full compacted log forever once 128 corrupt
        entries exist."""
        try:
            singles = [
                f for f in os.listdir(self._log_dir)
                if f.endswith(".json") and f != "compacted.json"
            ]
        except OSError:
            return
        if len(singles) < 128:
            return
        parsed: list[tuple[str, dict]] = []
        for name in singles:
            fp = os.path.join(self._log_dir, name)
            try:
                with open(fp) as f:
                    doc = json.load(f)
                int(doc["batch_id"])
            except (OSError, ValueError, KeyError, TypeError):
                continue  # unreadable single log: keep it as-is
            parsed.append((fp, doc))
        if len(parsed) < 128:
            return
        comp = _load_compacted_log(self._log_dir) or {"version": 1, "batches": {}}
        for _, doc in parsed:
            comp["batches"][str(int(doc["batch_id"]))] = doc.get("files", [])
        fd, tmp = tempfile.mkstemp(
            prefix=".compacted-", suffix=".tmp", dir=self._log_dir
        )
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(comp, f, separators=(",", ":"))
            os.replace(tmp, os.path.join(self._log_dir, "compacted.json"))
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        self._compacted_ids = set(comp["batches"])
        for fp, _ in parsed:
            try:
                os.remove(fp)
            except OSError:
                pass

    def abort(self, messages, batchId: int) -> None:
        self._batch.abort(messages)


class OliveDataSource(DataSource):
    """spark.read.format("olive") / df.write.format("olive"), and the
    SQL DDL surface: ``CREATE TEMPORARY VIEW t USING olive OPTIONS
    (path '…')`` then plain ``spark.sql`` — the temp-view flow forwards
    options end-to-end.  Catalog ``CREATE TABLE … USING olive`` reads
    are NOT usable in this Spark version (the catalog scan arrives with
    EMPTY options; OliveReader raises an error naming the temp-view
    form).  DDL resolution hands locations through as ``file:`` URIs,
    normalized here once for every reader/writer path."""

    def __init__(self, options) -> None:
        p = options.get("path")
        if p and p.startswith("file:"):
            from urllib.parse import unquote, urlparse

            options["path"] = unquote(urlparse(p).path)
        super().__init__(options)

    @classmethod
    def name(cls) -> str:
        return "olive"

    def schema(self) -> StructType:
        from pyspark.sql.types import StructField

        snap = self.options.get("snapshot")
        stag = self.options.get(
            "snapshottag", self.options.get("snapshotTag")
        )
        if snap is None and stag is not None:
            from olive_spark.format.snapshots import version_for_tag

            snap = version_for_tag(self.options["path"], stag)
        sasof = self.options.get(
            "snapshotasof", self.options.get("snapshotAsOf")
        )
        if snap is None and sasof is not None:
            from olive_spark.format.snapshots import version_at_timestamp

            snap = version_at_timestamp(
                self.options["path"], _parse_asof_timestamp(sasof)
            )
        tg = self.options.get("txngroup", self.options.get("txnGroup"))
        if snap is None and tg is not None:
            from olive_spark.ops.txn import group_versions

            snap = (group_versions(tg) or {}).get(
                os.path.abspath(self.options["path"])
            )
        fl = self.options.get("files")
        br = self.options.get("branch")
        if br is not None and snap is None and fl is None:
            # mirror OliveReader's branch resolution (r12, ADVICE): a
            # branch preview's schema must see columns that exist ONLY
            # in branch-staged files (append_to_branch reserves field
            # ids for new columns), and a branch over an empty live
            # table must not fall back to the live listing
            from olive_spark.format.snapshots import files_at, resolve_paths
            from olive_spark.ops.branch import _BRANCH_DIR, _load_ref

            path = self.options["path"]
            ref = _load_ref(path, br)
            base = (
                files_at(path, ref["base_version"])
                if ref["base_version"] else []  # branch on an empty table
            )
            rels = sorted(base) + [
                os.path.join(_BRANCH_DIR, br, r) for r in ref["files"]
            ]
            files = resolve_paths(path, rels)
        elif fl is not None:
            from olive_spark.format.snapshots import resolve_paths

            files = resolve_paths(
                self.options["path"],
                [n.strip() for n in fl.split(",") if n.strip()],
            )
        elif snap is not None:
            from olive_spark.format.snapshots import files_at, resolve_paths

            path = self.options["path"]
            files = resolve_paths(path, files_at(path, int(snap)))
        else:
            files = _list_chunk_files(self.options["path"])
        merge = str(self.options.get("mergeschema", self.options.get(
            "mergeSchema", "false"))).lower() == "true"
        names: list[str] = []
        types: dict[str, Any] = {}
        # the schema sidecar (written by schema-evolving MERGE) is the
        # directory-level authority: without it a first-file header read
        # silently drops columns only newer files carry.  Seeded first so
        # its order wins; mergeSchema=true still unions any extra header
        # columns on top.  Snapshot (time-travel) reads also use it —
        # latest-schema-wins, pre-evolution files null-fill (_cast_to).
        from olive_spark.format.table_schema import read_schema_and_dropped

        side, dropped = read_schema_and_dropped(
            self.options["path"], self.options.get("table")
        )
        if side is not None:
            for n, tj in zip(*side):
                if n not in types:
                    names.append(n)
                    types[n] = tj
        headers = (
            files if merge else ([] if side is not None else files[:1])
        )
        if side is not None:
            from olive_spark.format.table_schema import read_column_mapping

            if read_column_mapping(
                self.options["path"], self.options.get("table")
            ) is not None:
                # column mapping active: the sidecar is the complete id
                # authority (every schema change writes it), so header
                # union could only resurface retired columns — a stored
                # name outside the sidecar is a dropped/renamed-away
                # column's data, never a missing schema entry
                headers = []
        # DROP COLUMN tombstones: mergeSchema's header union must not
        # resurrect a dropped column out of old files
        tomb = set(dropped) if side is not None else set()
        for fp in headers:
            header, _ = _read_header_bytes(fp)
            th = _pick_table(header, self.options.get("table"))
            for n, tj in zip(th.field_names, th.field_types):
                if n not in types and n not in tomb:
                    names.append(n)
                    types[n] = tj
                # first-writer-wins on type; files missing a column
                # null-fill at read time (_cast_to)
        cols = self.options.get("columns")
        keep = [c.strip() for c in cols.split(",")] if cols else names
        d256 = self.options.get("decimal256", "reject").lower()
        fields = [
            StructField(n, _spark_type_from_type_json(types[n], d256), True)
            for n in names
            if n in keep
        ]
        fc = self.options.get("filecolumn", self.options.get("fileColumn"))
        if fc:
            # per-row file provenance (the input_file_name() equivalent
            # Python data sources lack) — the copy-on-write primitive:
            # merge/delete use it to find which files to rewrite
            from pyspark.sql.types import StringType

            fields.append(StructField(fc, StringType(), False))
        pc = self.options.get("poscolumn", self.options.get("posColumn"))
        if pc:
            # raw row position within the chunk file — the merge-on-read
            # primitive: deletion vectors record these positions
            from pyspark.sql.types import LongType

            fields.append(StructField(pc, LongType(), False))
        return StructType(fields)

    def reader(self, schema: StructType) -> OliveReader:
        opts = dict(self.options)
        if str(opts.get("pushdown", "false")).lower() == "true":
            return OlivePushdownReader(opts, schema)
        return OliveReader(opts, schema)

    def streamReader(self, schema: StructType) -> OliveStreamReader:
        return OliveStreamReader(dict(self.options), schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> OliveStreamWriter:
        return OliveStreamWriter(dict(self.options), schema, overwrite)

    def writer(self, schema: StructType, overwrite: bool) -> OliveWriter:
        if overwrite:
            path = self.options.get("path")
            if path and os.path.isdir(path):
                for f in _list_chunk_files(path) if any(
                    fn.endswith(".olive") for _, _, fs in os.walk(path) for fn in fs
                ) else []:
                    os.remove(f)
                # the schema sidecar describes the files just wiped; a
                # stale one would pin the OLD column set and make every
                # post-overwrite default scan null-fill silently
                from olive_spark.format.table_schema import sidecar_path

                try:
                    os.remove(sidecar_path(path))
                except OSError:
                    pass
                # and the hidden-partition spec: the fresh table may use
                # a different (or no) layout
                from olive_spark.format.partition import (
                    sidecar_path as _psp,
                )

                try:
                    os.remove(_psp(path))
                except OSError:
                    pass
                # same staleness class for CDC tombstones: retained
                # sequence floors from the WIPED table would silently
                # drop rows from the fresh table's sequenced merges
                import shutil as _shutil

                from olive_spark.ops.maintenance import TOMBSTONES_DIR

                _shutil.rmtree(
                    os.path.join(path, TOMBSTONES_DIR),
                    ignore_errors=True,
                )
        return OliveWriter(dict(self.options), schema, overwrite)


def register_olive(spark) -> None:
    """Idempotently register the olive data source on a SparkSession.

    Scans work on ANY session: the default ``OliveReader`` does not
    implement ``pushFilters``, so a session where
    ``spark.sql.python.filterPushdown.enabled`` is locked off still
    plans and reads correctly (without planning-time file/page pruning).
    The conf is set best-effort here so relations that opt in with
    ``.option("pushdown", "true")`` get pruning; if it cannot be set,
    only those opt-in relations fail — at plan time, with Spark's
    ``DATA_SOURCE_PUSHDOWN_DISABLED`` error naming the exact conf.
    """
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:  # noqa: BLE001 — conf locked: see docstring
        pass
    spark.dataSource.register(OliveDataSource)
