"""Structured Streaming over olive: source offsets, sink appends,
checkpointed incremental reads (engine extension — the reference format
is batch-only, SURVEY.md §2.6)."""

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
        # same hardening as __spark_entry__._prepare: under full-suite
        # load a freshly-forked Python worker can miss the default 15 s
        # connect-back window → a transient "Python worker failed to
        # connect back" flake (seen once in the r15 full-suite run)
        .config("spark.python.authenticate.socketTimeout", "120s")
        .getOrCreate()
    )
    from olive_spark import register_olive

    register_olive(s)
    yield s


def _write_part(path: str, idx: int, lo: int, hi: int) -> None:
    os.makedirs(path, exist_ok=True)
    t = pa.table({
        "k": pa.array(list(range(lo, hi)), pa.int64()),
        "v": pa.array([float(x) * 1.5 for x in range(lo, hi)], pa.float64()),
    })
    with open(os.path.join(path, f"part-{idx:05d}.olive"), "wb") as f:
        f.write(write_chunk({"data": t}))


def test_stream_source_reads_all_files(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("src"))
    for i in range(3):
        _write_part(src, i, i * 100, (i + 1) * 100)
    from olive_spark import streaming

    sdf = streaming.read_stream(spark, src)
    out = streaming.run_available_now(
        sdf.groupBy().count(), output_mode="complete"
    )
    assert out.collect()[0]["count"] == 300


def test_stream_sink_and_incremental_checkpoint(spark, tmp_path_factory):
    """Second availableNow run with the same checkpoint must process ONLY
    files appended after the first run — rows appear exactly once."""
    src = str(tmp_path_factory.mktemp("src2"))
    sink = str(tmp_path_factory.mktemp("sink"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    from olive_spark import streaming

    _write_part(src, 0, 0, 50)
    sdf = streaming.read_stream(spark, src)
    streaming.write_stream_olive(sdf, sink, ckpt)

    _write_part(src, 1, 50, 80)
    sdf2 = streaming.read_stream(spark, src)
    streaming.write_stream_olive(sdf2, sink, ckpt)

    got = spark.read.format("olive").load(sink)
    rows = sorted(r["k"] for r in got.collect())
    assert rows == list(range(80)), "each source row exactly once"


def test_stream_sink_replay_is_exactly_once(spark, tmp_path_factory):
    """Spark re-executes a microbatch whose epoch died between task
    completion and checkpoint commit, calling sink.commit again with the
    SAME batchId.  The sink's per-batch commit log must detect the
    replay and discard the duplicate files — rows exactly once."""
    src = str(tmp_path_factory.mktemp("rsrc"))
    sink = str(tmp_path_factory.mktemp("rsink"))
    ckpt = str(tmp_path_factory.mktemp("rckpt"))
    from olive_spark import streaming

    _write_part(src, 0, 0, 40)
    streaming.write_stream_olive(streaming.read_stream(spark, src), sink, ckpt)

    log_dir = os.path.join(sink, "_olive_stream_log")
    logs = sorted(os.listdir(log_dir))
    assert logs, "committed batches must be logged"
    replay_id = int(logs[0].split(".")[0])

    got = spark.read.format("olive").load(sink)
    before = sorted(r["k"] for r in got.collect())
    assert before == list(range(40))

    # simulate the replay: same batchId, freshly-written task outputs
    from olive_spark.datasource.olive_datasource import OliveStreamWriter

    w = OliveStreamWriter({"path": sink}, got.schema, overwrite=False)
    dup = pa.table({
        "k": pa.array(list(range(40)), pa.int64()),
        "v": pa.array([float(x) * 1.5 for x in range(40)], pa.float64()),
    })
    msg = w.write(iter(dup.to_batches()))
    assert all(os.path.exists(fp) for fp in msg.files)
    w.commit([msg], batchId=replay_id)
    assert not any(os.path.exists(fp) for fp in msg.files), (
        "replayed batch's duplicate files must be removed"
    )
    after = sorted(
        r["k"] for r in spark.read.format("olive").load(sink).collect()
    )
    assert after == before, "replay must not duplicate rows"

    # a NEW batchId commits normally and extends the log
    msg2 = w.write(iter(
        pa.table({
            "k": pa.array([100], pa.int64()),
            "v": pa.array([1.0], pa.float64()),
        }).to_batches()
    ))
    w.commit([msg2], batchId=replay_id + 1000)
    assert os.path.exists(os.path.join(log_dir, f"{replay_id + 1000}.json"))
    rows = sorted(
        r["k"] for r in spark.read.format("olive").load(sink).collect()
    )
    assert rows == before + [100]


def test_failed_commit_leaves_no_stale_log(spark, tmp_path_factory):
    """The batch log is the FINAL act of commit: if commit fails before
    the log lands, the replay must be treated as new (committed), never
    discarded as a duplicate — the data-loss ordering bug."""
    src = str(tmp_path_factory.mktemp("fsrc"))
    sink = str(tmp_path_factory.mktemp("fsink"))
    ckpt = str(tmp_path_factory.mktemp("fckpt"))
    from olive_spark import streaming
    from olive_spark.datasource.olive_datasource import OliveStreamWriter

    _write_part(src, 0, 0, 10)
    streaming.write_stream_olive(streaming.read_stream(spark, src), sink, ckpt)
    got = spark.read.format("olive").load(sink)

    w = OliveStreamWriter({"path": sink}, got.schema, overwrite=False)
    batch = pa.table({
        "k": pa.array([500], pa.int64()), "v": pa.array([1.0], pa.float64()),
    })
    msg = w.write(iter(batch.to_batches()))
    # commit epoch 99 fails mid-manifest-merge (before the log write)
    orig = w._batch._merge_manifest
    w._batch._merge_manifest = lambda m: (_ for _ in ()).throw(RuntimeError("boom"))
    with pytest.raises(RuntimeError):
        w.commit([msg], batchId=99)
    assert not os.path.exists(w._log_path(99)), (
        "a failed commit must not leave a committed-looking log"
    )
    w._batch._merge_manifest = orig
    w.abort([msg], batchId=99)  # Spark aborts the failed epoch

    # the replay of epoch 99 must COMMIT (not be discarded as duplicate)
    msg2 = w.write(iter(batch.to_batches()))
    w.commit([msg2], batchId=99)
    rows = sorted(r["k"] for r in spark.read.format("olive").load(sink).collect())
    assert rows == list(range(10)) + [500], "replayed batch present exactly once"


def test_stream_log_compaction_bounds_log_dir(spark, tmp_path_factory):
    """Individual batch logs fold into compacted.json once 128
    accumulate; replay detection and vacuum still see folded batches."""
    sink = str(tmp_path_factory.mktemp("csink"))
    from olive_spark.datasource.olive_datasource import OliveStreamWriter
    from olive_spark.ops.maintenance import vacuum_stream_sink
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType([
        StructField("k", LongType()), StructField("v", DoubleType()),
    ])
    w = OliveStreamWriter({"path": sink}, schema, overwrite=False)
    os.makedirs(sink, exist_ok=True)
    batch = pa.table({
        "k": pa.array([1], pa.int64()), "v": pa.array([1.0], pa.float64()),
    })
    msg = w.write(iter(batch.to_batches()))
    w.commit([msg], batchId=0)
    for bid in range(1, 130):  # metadata-only epochs: all tasks empty
        w.commit([], batchId=bid)
    log_dir = os.path.join(sink, "_olive_stream_log")
    names = os.listdir(log_dir)
    assert "compacted.json" in names
    singles = [n for n in names if n != "compacted.json"]
    assert len(singles) < 128, "individual logs must fold away"
    # folded batches still count as committed (replay safety)
    assert w._is_committed(0) and w._is_committed(64)
    dup = w.write(iter(batch.to_batches()))
    w.commit([dup], batchId=0)  # replay of folded batch 0
    assert not any(os.path.exists(fp) for fp in dup.files)
    out = vacuum_stream_sink(sink)
    assert out["batches"] >= 130 and out["kept"] == 1 and out["removed"] == 0


def test_vacuum_stream_sink_sweeps_uncommitted_epoch(spark, tmp_path_factory):
    """Task outputs of an epoch that died before the driver logged the
    commit are visible phantom rows; vacuum_stream_sink removes exactly
    those, never logged (committed) files."""
    src = str(tmp_path_factory.mktemp("vsrc"))
    sink = str(tmp_path_factory.mktemp("vsink"))
    ckpt = str(tmp_path_factory.mktemp("vckpt"))
    from olive_spark import streaming
    from olive_spark.ops.maintenance import vacuum_stream_sink

    _write_part(src, 0, 0, 30)
    streaming.write_stream_olive(streaming.read_stream(spark, src), sink, ckpt)

    # simulate the crashed epoch: task files written, commit never ran
    from olive_spark.datasource.olive_datasource import OliveStreamWriter

    got = spark.read.format("olive").load(sink)
    w = OliveStreamWriter({"path": sink}, got.schema, overwrite=False)
    msg = w.write(iter(pa.table({
        "k": pa.array([777], pa.int64()),
        "v": pa.array([0.0], pa.float64()),
    }).to_batches()))
    assert spark.read.format("olive").load(sink).count() == 31, (
        "phantom row visible before vacuum"
    )

    out = vacuum_stream_sink(sink)
    assert out["removed"] == 1 and out["kept"] >= 1 and out["batches"] >= 1
    rows = sorted(r["k"] for r in spark.read.format("olive").load(sink).collect())
    assert rows == list(range(30)), "committed rows intact, phantom gone"

    # a sink dir with no commit log is left untouched
    bare = str(tmp_path_factory.mktemp("bare"))
    _write_part(bare, 0, 0, 5)
    assert vacuum_stream_sink(bare) == {"removed": 0, "kept": 0, "batches": 0}
    assert spark.read.format("olive").load(bare).count() == 5


def _write_ts_part(path: str, idx: int, rows: list[tuple]) -> None:
    os.makedirs(path, exist_ok=True)
    t = pa.table({
        "k": pa.array([r[0] for r in rows], pa.string()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "v": pa.array([r[2] for r in rows], pa.float64()),
    })
    with open(os.path.join(path, f"part-{idx:05d}.olive"), "wb") as f:
        f.write(write_chunk({"data": t}))


def test_sliding_counts_overlapping_windows(spark, tmp_path_factory):
    """One event in a 1h/15m sliding window must appear in exactly 4
    window rows; counts across overlapping windows must agree."""
    from olive_spark import streaming

    src = str(tmp_path_factory.mktemp("slide"))
    base = 1_700_000_000_000_000  # aligned enough; exact starts checked
    _write_ts_part(src, 0, [("a", base, 1.0), ("a", base + 900_000_000, 2.0)])
    sdf = streaming.read_stream(spark, src)
    agg = streaming.sliding_counts(
        sdf, time_col="ts", window="1 hour", slide="15 minutes",
        keys=("k",), value_col="v",
    )
    out = streaming.run_available_now(agg, output_mode="complete",
                                      state_partitions=2)
    rows = {r["window_start_us"]: r["n"] for r in out.collect()}
    assert sum(rows.values()) == 8, "2 events x 4 overlapping windows"
    # events 15 min apart share 3 of their 4 windows
    assert sorted(rows.values()) == [1, 1, 2, 2, 2]


def test_stream_static_join_enriches_per_microbatch(spark, tmp_path_factory):
    from olive_spark import streaming

    src = str(tmp_path_factory.mktemp("sstatic"))
    _write_part(src, 0, 0, 10)
    dim = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(10)],
        "k long, parity string",
    )
    sdf = streaming.read_stream(spark, src)
    joined = streaming.stream_static_join(sdf, dim, "k")
    from pyspark.sql import functions as F

    agg = joined.groupBy("parity").agg(F.count("*").alias("n"))
    out = streaming.run_available_now(agg, output_mode="complete",
                                      state_partitions=2)
    got = {r["parity"]: r["n"] for r in out.collect()}
    assert got == {"even": 5, "odd": 5}


def test_admission_control_caps_batches(tmp_path):
    """maxFilesPerTrigger / maxBytesPerTrigger bound each microbatch
    after the frontier is known, and never regress behind a committed
    offset revealed by a replayed batch.  Exercises the measured runner
    protocol directly (latestOffset before initialOffset, partitions
    per batch)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from olive_spark.datasource.olive_datasource import OliveStreamReader

    d = tmp_path / "adm"
    d.mkdir()
    for i in range(8):
        t = pa.table({"x": pa.array([i], pa.int64())})
        (d / f"part-{i:020d}-aaaa.olive").write_bytes(write_chunk({"data": t}))
    schema = StructType([StructField("x", LongType())])

    # fresh run: first latestOffset is uncapped (checkpoint unknown)
    r = OliveStreamReader({"path": str(d), "maxFilesPerTrigger": "2"}, schema)
    assert r.latestOffset()["index"] == 8

    # crash-replay run: partitions() reveals the committed range first,
    # so the cap applies immediately and advances 2 files per batch
    r2 = OliveStreamReader({"path": str(d), "maxFilesPerTrigger": "2"}, schema)
    r2.partitions({"index": 0}, {"index": 3})  # replayed pending batch
    assert r2.latestOffset()["index"] == 5
    r2.partitions({"index": 3}, {"index": 5})
    assert r2.latestOffset()["index"] == 7
    r2.partitions({"index": 5}, {"index": 7})
    assert r2.latestOffset()["index"] == 8  # caught up
    assert r2.latestOffset()["index"] == 8  # idle poll: no runaway

    # byte budget admits past the cap boundary but always >= 1 file
    sz = (d / f"part-{0:020d}-aaaa.olive").stat().st_size
    r3 = OliveStreamReader(
        {"path": str(d), "maxBytesPerTrigger": str(sz + 1)}, schema
    )
    r3.partitions({"index": 0}, {"index": 0})
    assert r3.latestOffset()["index"] == 2  # 1 full file + the one that tips
    r3b = OliveStreamReader({"path": str(d), "maxBytesPerTrigger": "1"}, schema)
    r3b.partitions({"index": 0}, {"index": 0})
    assert r3b.latestOffset()["index"] == 1  # progress guaranteed

    # the capped offset's digest still passes the append-only check
    r4 = OliveStreamReader({"path": str(d), "maxFilesPerTrigger": "3"}, schema)
    r4.partitions({"index": 0}, {"index": 0})
    end = r4.latestOffset()
    assert end["index"] == 3
    parts = r4.partitions({"index": 0}, end)
    assert sum(len(p.files) for p in parts) == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="maxFilesPerTrigger"):
        OliveStreamReader({"path": str(d), "maxFilesPerTrigger": "0"}, schema)


def test_admission_control_end_to_end(spark, tmp_path_factory):
    """Files appended after the first committed batch are consumed in
    cap-bounded microbatches under a processingTime trigger."""
    import time

    src = str(tmp_path_factory.mktemp("admsrc"))
    ckpt = str(tmp_path_factory.mktemp("admckpt"))
    _write_part(src, 0, 0, 10)

    batches: list[tuple[int, int]] = []

    def sink(df, bid):
        n = df.count()
        if n:
            batches.append((bid, n))

    sdf = (
        spark.readStream.format("olive")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and sum(n for _, n in batches) < 10:
            time.sleep(0.5)
        assert sum(n for _, n in batches) == 10, batches
        # first batch is uncapped by design; append 3 more files and
        # each must arrive in its own capped batch
        for i in range(1, 4):
            _write_part(src, i, i * 10, i * 10 + 10)
        deadline = time.time() + 40
        while time.time() < deadline and sum(n for _, n in batches) < 40:
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    assert sum(n for _, n in batches) == 40, batches
    capped = [n for _, n in batches[1:]]
    assert all(n == 10 for n in capped) and len(capped) == 3, batches


def test_stream_offsets_detect_non_append_mutation(tmp_path):
    """Index offsets assume an append-only log; deleting or renaming a
    consumed file must raise a clear error, never silently shift the
    slice onto different data."""
    import pyarrow as pa
    import pytest as _pytest

    from olive_spark.datasource.olive_datasource import OliveStreamReader
    from olive_spark.format.errors import ValidationError
    from olive_spark.format.writer import write_chunk

    d = tmp_path / "s"
    d.mkdir()
    for i in range(3):
        t = pa.table({"x": pa.array([i], pa.int64())})
        (d / f"part-{i:020d}-aaaa.olive").write_bytes(write_chunk({"data": t}))
    from pyspark.sql.types import LongType, StructField, StructType

    r = OliveStreamReader({"path": str(d)}, StructType([StructField("x", LongType())]))
    end = r.latestOffset()
    assert end["index"] == 3 and end["digest"]

    # normal case works
    parts = r.partitions({"index": 0}, end)
    assert sum(len(p.files) for p in parts) == 3

    # a deleted file → shrunk directory → hard error
    (d / f"part-{0:020d}-aaaa.olive").unlink()
    with _pytest.raises(ValidationError, match="shrank|non-append"):
        r.partitions({"index": 0}, end)

    # same count but a file inserted mid-list (out-of-order writer,
    # e.g. a pure-uuid name sorting before consumed indices) → error
    t = pa.table({"x": pa.array([9], pa.int64())})
    (d / "part-00000000000000000000-zzzz.olive").write_bytes(
        write_chunk({"data": t})
    )
    with _pytest.raises(ValidationError, match="non-append"):
        r.partitions({"index": 0}, end)

    # legacy checkpoint offsets (no digest) keep working when valid
    assert sum(
        len(p.files) for p in r.partitions({"index": 0}, {"index": 3})
    ) == 3


def test_admission_state_dir_caps_first_batch_of_next_run(tmp_path):
    """With admissionStateDir, partitions() mirrors each planned offset
    to a sidecar, and a NEW reader (next run / restart) caps its FIRST
    latestOffset from it — closing the first-batch-uncapped hole.
    Corrupt or foreign sidecars degrade to the old uncapped behavior."""
    import json as _json

    from pyspark.sql.types import LongType, StructField, StructType

    from olive_spark.datasource.olive_datasource import OliveStreamReader

    d = tmp_path / "src"
    d.mkdir()
    for i in range(9):
        t = pa.table({"x": pa.array([i], pa.int64())})
        (d / f"part-{i:020d}-aaaa.olive").write_bytes(write_chunk({"data": t}))
    schema = StructType([StructField("x", LongType())])
    sd = str(tmp_path / "state")
    opts = {"path": str(d), "maxFilesPerTrigger": "3",
            "admissionStateDir": sd}

    # run 1: no sidecar yet -> with a state dir even the FIRST call is
    # capped (from 0 — upstream FileStreamSource parity), and planning
    # the batch mirrors the planned end to the sidecar
    r1 = OliveStreamReader(dict(opts), schema)
    end = r1.latestOffset()
    assert end["index"] == 3
    r1.partitions({"index": 0}, {"index": 3})
    assert _json.load(open(f"{sd}/frontier.json"))["index"] == 3

    # run 2 (fresh reader): first latestOffset caps FROM the sidecar
    r2 = OliveStreamReader(dict(opts), schema)
    assert r2.latestOffset()["index"] == 6
    r2.partitions({"index": 3}, {"index": 6})
    r3 = OliveStreamReader(dict(opts), schema)
    assert r3.latestOffset()["index"] == 9

    # replayed pending batch still wins over a lagging sidecar
    _json.dump({"index": 1}, open(f"{sd}/frontier.json", "w"))
    r4 = OliveStreamReader(dict(opts), schema)
    r4.partitions({"index": 1}, {"index": 7})  # WAL range beats sidecar
    assert r4.latestOffset()["index"] == 9

    # a stale sidecar landing BEHIND the committed offset fails loud in
    # partitions() and re-seeds the sidecar from the committed offset
    import pytest as _pytest

    from olive_spark.format.errors import ValidationError

    _json.dump({"index": 1}, open(f"{sd}/frontier.json", "w"))
    r5 = OliveStreamReader(dict(opts), schema)
    assert r5.latestOffset()["index"] == 4  # capped from stale 1
    with _pytest.raises(ValidationError, match="admission sidecar"):
        r5.partitions({"index": 7}, {"index": 4})
    assert _json.load(open(f"{sd}/frontier.json"))["index"] == 7

    # corrupted sidecar -> caps from 0, no crash
    open(f"{sd}/frontier.json", "w").write("[not, an, object]")
    r6 = OliveStreamReader(dict(opts), schema)
    assert r6.latestOffset()["index"] == 3


def test_available_now_drains_backlog_in_capped_epochs(spark, tmp_path_factory):
    """The r6 audit scenario: a 100-file backlog with
    maxFilesPerTrigger=10 + admissionStateDir must process in >= 10
    bounded epochs under availableNow (one capped epoch per run via
    drain_available_now), with every row delivered exactly once."""
    src = str(tmp_path_factory.mktemp("drainsrc"))
    ckpt = str(tmp_path_factory.mktemp("drainckpt"))
    state = str(tmp_path_factory.mktemp("drainstate"))
    for i in range(100):
        _write_part(src, i, i, i + 1)  # one row per file

    from olive_spark.streaming import drain_available_now

    seen: list[tuple[int, int]] = []

    def sink(df, bid):
        n = df.count()
        if n:
            seen.append((bid, n))

    def start():
        return (
            spark.readStream.format("olive")
            .option("maxFilesPerTrigger", "10")
            .option("admissionStateDir", state)
            .load(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    runs = drain_available_now(start)
    assert runs >= 10, (runs, seen)
    assert sum(n for _, n in seen) == 100, seen
    assert max(n for _, n in seen) <= 10, seen  # every epoch bounded


def test_compacted_log_corrupt_non_object_json_is_none(tmp_path):
    """compacted.json corrupted into valid non-object JSON (list/
    string/number) must take the None fallback, not AttributeError out
    of commit (ADVICE r6)."""
    from olive_spark.datasource.olive_datasource import _load_compacted_log

    d = str(tmp_path)
    for payload in ('[1, 2]', '"oops"', '42', '{"batches": [1]}',
                    '{"batches": "x"}', '{not json'):
        with open(f"{d}/compacted.json", "w") as f:
            f.write(payload)
        assert _load_compacted_log(d) is None, payload
    with open(f"{d}/compacted.json", "w") as f:
        f.write('{"batches": {"0": ["a.olive"]}}')
    assert _load_compacted_log(d) == {"batches": {"0": ["a.olive"]}}


def test_backlog_drained_reads_python_repr_offsets(tmp_path):
    """Spark reports a Python source's endOffset in lastProgress as a
    Python repr, not JSON; the drain loop's skip-the-probe check must
    parse it (a JSON-only parse made every drain pay the probe run)."""
    from olive_spark.streaming.ops import _backlog_drained, _offset_index

    d = str(tmp_path / "src")
    _write_part(d, 0, 0, 5)
    repr_off = "{'index': 1, 'digest': 'f21e43c6948ee671'}"
    assert _offset_index(repr_off) == 1
    assert _offset_index('{"index": 2}') == 2
    assert _offset_index({"index": 3}) == 3
    for bad in (None, "", "{not an offset", "[1]", "{'index': -1}",
                "{'index': 'x'}", "__import__('os')"):
        assert _offset_index(bad) is None, bad

    def progress(off):
        return {"sources": [{"endOffset": off}]}

    assert _backlog_drained(progress(repr_off), [d])
    assert not _backlog_drained(
        progress("{'index': 0, 'digest': 'x'}"), [d]
    )
    _write_part(d, 1, 5, 10)  # appended after the run: not drained
    assert not _backlog_drained(progress(repr_off), [d])


def test_admission_state_dir_restart_backlog_capped_exactly_once(
    spark, tmp_path_factory
):
    """The ADVICE-r6 scenario end-to-end: a query stops with a large
    backlog, then RESTARTS from its checkpoint — with admissionStateDir
    the restart's batches (including its first) stay capped, and every
    row is delivered exactly once across both runs."""
    import time

    src = str(tmp_path_factory.mktemp("rstsrc"))
    ckpt = str(tmp_path_factory.mktemp("rstckpt"))
    state = str(tmp_path_factory.mktemp("rststate"))
    for i in range(6):
        _write_part(src, i, i * 10, i * 10 + 10)  # 60 rows, 6 files

    batches: list[int] = []

    def sink(df, bid):
        n = df.count()
        if n:
            batches.append(n)

    def start():
        return (
            spark.readStream.format("olive")
            .option("maxFilesPerTrigger", "2")
            .option("admissionStateDir", state)
            .load(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )

    # run 1: stop after the FIRST batch commits (backlog remains)
    q = start()
    deadline = time.time() + 30
    while time.time() < deadline and not batches:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    consumed_run1 = sum(batches)
    assert batches and batches[0] == 20, batches  # capped first batch

    # run 2 (restart with backlog): all remaining rows, still capped
    q = start()
    deadline = time.time() + 40
    while time.time() < deadline and sum(batches) < 60:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    assert sum(batches) == 60, (consumed_run1, batches)
    assert max(batches) <= 20, batches  # every batch cap-bounded


def test_drain_survives_all_empty_epochs(spark, tmp_path_factory):
    """Progress is offset advancement, not row counts: an epoch that
    admits only zero-row chunk files must not end the drain with
    backlog still pending (the schema-only empty chunk is a routine
    zero-row-commit artifact)."""
    src = str(tmp_path_factory.mktemp("drainempty"))
    ckpt = str(tmp_path_factory.mktemp("drainemptyck"))
    state = str(tmp_path_factory.mktemp("drainemptyst"))
    os.makedirs(src, exist_ok=True)
    for i in range(30):
        lo, hi = (0, 0) if 10 <= i < 20 else (i, i + 1)  # middle 10 empty
        t = pa.table({
            "k": pa.array(list(range(lo, hi)), pa.int64()),
            "v": pa.array([float(x) for x in range(lo, hi)], pa.float64()),
        })
        with open(os.path.join(src, f"part-{i:05d}.olive"), "wb") as f:
            f.write(write_chunk({"data": t}))

    from olive_spark.streaming import drain_available_now

    seen = []

    def sink(df, bid):
        seen.append(df.count())

    def start():
        return (
            spark.readStream.format("olive")
            .option("maxFilesPerTrigger", "10")
            .option("admissionStateDir", state)
            .load(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    runs = drain_available_now(start)
    assert runs == 3, (runs, seen)
    assert sum(seen) == 20, seen  # all non-empty rows, exactly once


def test_drain_multi_source_keeps_going_until_all_drained(spark, tmp_path_factory):
    """ADVICE r7: drain_available_now must compare ALL sources'
    endOffsets — in a two-source union where source A is tiny and
    source B has a deep capped backlog, stopping when A stops moving
    would strand B's tail."""
    src_a = str(tmp_path_factory.mktemp("ms_a"))
    src_b = str(tmp_path_factory.mktemp("ms_b"))
    ckpt = str(tmp_path_factory.mktemp("ms_ckpt"))
    st_a = str(tmp_path_factory.mktemp("ms_sta"))
    st_b = str(tmp_path_factory.mktemp("ms_stb"))
    _write_part(src_a, 0, 0, 1)          # ONE file: drained in run 1
    for i in range(12):                  # deep backlog, cap 2 -> 6 runs
        _write_part(src_b, i, 100 + i, 100 + i + 1)

    from olive_spark.streaming import drain_available_now

    seen: list[int] = []

    def sink(df, bid):
        seen.append(df.count())

    def start():
        a = (
            spark.readStream.format("olive")
            .option("admissionStateDir", st_a)
            .option("maxFilesPerTrigger", "2").load(src_a)
        )
        b = (
            spark.readStream.format("olive")
            .option("admissionStateDir", st_b)
            .option("maxFilesPerTrigger", "2").load(src_b)
        )
        return (
            a.unionByName(b)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    runs = drain_available_now(start)
    assert runs >= 6, (runs, seen)
    assert sum(seen) == 13, seen  # every row from BOTH sources, once


def test_stream_sink_extends_evolved_sidecar(spark, tmp_path_factory):
    """A microbatch carrying columns beyond the schema sidecar must
    extend it (before the epoch commits), or default scans hide the
    committed streaming columns on an evolved table."""
    from pyspark.sql import functions as F

    from olive_spark import streaming
    from olive_spark.format.table_schema import read_table_schema
    from olive_spark.ops.maintenance import merge_upsert

    sink = str(tmp_path_factory.mktemp("esink"))
    ckpt = str(tmp_path_factory.mktemp("eckpt"))
    spark.range(10).selectExpr("id AS k", "id * 1.5 AS v") \
        .write.format("olive").mode("append").save(sink)
    ev = spark.range(3).selectExpr("id AS k", "id * 1.5 AS v", "id AS w1")
    merge_upsert(spark, sink, ev, ["k"], evolve_schema=True)
    assert read_table_schema(sink, "data")[0] == ["k", "v", "w1"]

    src = str(tmp_path_factory.mktemp("esrc"))
    _write_part(src, 0, 100, 105)
    sdf = streaming.read_stream(spark, src).select(
        "k", "v", (F.col("k") * 2).alias("w1"),
        F.lit("streamed").alias("w2"),
    )
    streaming.write_stream_olive(sdf, sink, ckpt)
    df = spark.read.format("olive").load(sink)
    assert df.columns == ["k", "v", "w1", "w2"]
    assert df.filter("w2 = 'streamed'").count() == 5
    assert read_table_schema(sink, "data")[0] == ["k", "v", "w1", "w2"]


def test_stream_matview_partial_then_resume_parity(spark, tmp_path_factory):
    """The continuous-aggregate loop (stream_matview_available_now):
    after an INTERRUPTED drain (max_runs cap — the crash stand-in) the
    view must equal the aggregate of exactly what landed so far, and a
    resumed drain against the same checkpoint must converge the view to
    the full-data aggregate with no double-folded epoch."""
    from pyspark.sql import functions as F

    from olive_spark.streaming import stream_matview_available_now

    backlog = str(tmp_path_factory.mktemp("mvbacklog"))
    root = tmp_path_factory.mktemp("mvroot")
    table, view, ckpt = str(root / "t"), str(root / "v"), str(root / "ck")
    state = str(root / "adm")
    for i in range(12):
        _write_part(backlog, i, i * 10, (i + 1) * 10)  # 10 rows/file
    # seed the target table (the view needs an existing source) with
    # the SAME schema the stream sinks — including the grp column
    spark.range(5).selectExpr(
        "id AS k", "cast(-1.0 as double) AS v",
        "cast(id % 4 as int) AS grp",
    ).write.format("olive").mode("append").save(table)
    aggs = {"n": "count(*)", "sum_v": "sum(v)"}

    def sdf():
        return (
            spark.readStream.format("olive")
            .option("maxFilesPerTrigger", "3")
            .option("admissionStateDir", state)
            .load(backlog)
            .withColumn("grp", (F.col("k") % 4).cast("int"))
        )

    def view_rows():
        return sorted(
            tuple(r) for r in spark.read.format("olive")
            .option("table", "matview").load(view).collect()
        )

    def expect():
        cur = spark.read.format("olive").load(table)
        return sorted(
            tuple(r)
            for r in cur.groupBy("grp")
            .agg(F.expr("count(*)").alias("n"),
                 F.expr("sum(v)").alias("sum_v")).collect()
        )

    runs1 = stream_matview_available_now(
        sdf(), table, ckpt, view, group_cols=["grp"], aggs=aggs,
        max_runs=2,
    )
    assert runs1 == 2
    assert view_rows() == expect(), "partial view must match partial data"

    runs2 = stream_matview_available_now(
        sdf(), table, ckpt, view, group_cols=["grp"], aggs=aggs,
    )
    assert runs2 >= 1, "resume must keep draining the backlog"
    assert view_rows() == expect()
    total = spark.read.format("olive").load(table).count()
    assert total == 5 + 120, total


def test_sink_epochs_compose_with_auto_compact(spark, tmp_path_factory):
    """The small-file story end-to-end: many tiny sink epochs build up
    one file each; compact_if_needed declines below threshold, triggers
    above it, and the compacted sink still reads exactly once-delivered
    rows with a coherent snapshot log."""
    from olive_spark import streaming
    from olive_spark.format import snapshots
    from olive_spark.ops.maintenance import compact_if_needed

    src = str(tmp_path_factory.mktemp("acsrc"))
    sink = str(tmp_path_factory.mktemp("acsink"))
    ckpt = str(tmp_path_factory.mktemp("acckpt"))

    results = []
    for i in range(6):
        _write_part(src, i, i * 10, (i + 1) * 10)
        streaming.write_stream_olive(
            streaming.read_stream(spark, src), sink, ckpt
        )
        results.append(compact_if_needed(spark, sink, min_small_files=5))

    # declines while under 5 files, triggers at the 5th epoch, and the
    # post-compaction buildup starts over (so the last epoch declines)
    assert [r["compacted"] for r in results] == [
        False, False, False, False, True, False
    ]
    assert results[4]["files_after"] < results[4]["files_before"]
    got = sorted(r["k"] for r in spark.read.format("olive").load(sink).collect())
    assert got == list(range(60))
    # the compaction landed as a snapshot version like any rewrite
    hist_kinds = {e["kind"] for e in __import__(
        "olive_spark.ops.maintenance", fromlist=["snapshot_history"]
    ).snapshot_history(sink)}
    assert "compact" in hist_kinds
    assert snapshots.current_version(sink) >= 7


def test_stream_to_branch_wap_replay_safe(spark, tmp_path_factory):
    """r12 streaming WAP: a stream drains onto a branch — live scans
    see nothing while draining, per-epoch ids in the branch ref make
    delivery replay-safe (a re-run microbatch and a re-run of the
    whole drained checkpoint both no-op), and publish lands the
    backlog as one tagged commit."""
    from olive_spark.ops import branch
    from olive_spark.streaming import stream_to_branch_available_now
    from olive_spark.streaming.ops import read_stream

    d = tmp_path_factory.mktemp("sbranch")
    src, out = str(d / "src"), str(d / "out")
    ckpt = str(d / "ckpt")
    _write_part(src, 0, 0, 20)
    _write_part(src, 1, 20, 35)
    # seed the live table + branch
    _write_part(out, 0, 1000, 1005)
    branch.create_branch(out, "ing")
    runs = stream_to_branch_available_now(
        read_stream(spark, src), out, "ing", ckpt
    )
    assert runs >= 1
    live = spark.read.format("olive").load(out)
    assert live.count() == 5                      # nothing leaked
    prev = branch.scan_branch(spark, out, "ing")
    assert prev.count() == 40                     # seed + streamed
    # whole-checkpoint re-run: whatever the runner reports as progress
    # (offset bookkeeping can re-commit a final empty epoch), the DATA
    # must not re-deliver — that is the replay-safety contract
    stream_to_branch_available_now(read_stream(spark, src), out, "ing", ckpt)
    assert branch.scan_branch(spark, out, "ing").count() == 40
    # direct epoch replay: same (key, batch_id) skips
    rep = branch.append_to_branch(
        spark, spark.range(3).selectExpr("id AS k", "1.0 AS v"),
        out, "ing", epoch=(ckpt, 0),
    )
    assert rep.get("replayed") is True and rep["files_added"] == 0
    branch.publish_branch(spark, out, "ing")
    assert spark.read.format("olive").load(out).count() == 40
