"""Streaming operator surface: windowed aggregation with watermarks and
custom stateful processing (applyInPandasWithState).

Everything here is expressed so an ``availableNow`` run over a static
olive directory is DETERMINISTIC — that is what lets the driver's DuckDB
oracle check a streaming query's final result against plain SQL.
"""

from __future__ import annotations

import uuid
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F


def read_stream(spark: SparkSession, path: str, **options) -> DataFrame:
    """Tail an olive chunk directory as a stream."""
    r = spark.readStream.format("olive")
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


def tumbling_counts(
    sdf: DataFrame,
    time_col: str = "ts",
    window: str = "1 hour",
    keys: tuple = ("event_type",),
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window aggregation. Output keys are the
    window start (epoch µs — exact in both engines) plus ``keys``."""
    agg = (
        sdf.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window).alias("w"), *keys)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("sum_value"),
        )
    )
    return agg.select(
        F.unix_micros(F.col("w.start").cast("timestamp")).alias("window_start_us"),
        *keys,
        "n",
        "sum_value",
    )


def sliding_counts(
    sdf: DataFrame,
    time_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    keys: tuple = ("event_type",),
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked SLIDING-window aggregation: each event lands in
    window/slide overlapping windows (F.window with a slideDuration).
    State size scales with (windows in flight × keys), bounded by the
    watermark; output keys are the window start in epoch µs."""
    agg = (
        sdf.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window, slide).alias("w"), *keys)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("sum_value"),
        )
    )
    return agg.select(
        F.unix_micros(F.col("w.start").cast("timestamp")).alias("window_start_us"),
        *keys,
        "n",
        "sum_value",
    )


def stream_static_join(
    sdf: DataFrame,
    static_df: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """Stream-static join: every microbatch joins against the (batch)
    dimension — the enrichment shape.  The static side is re-planned per
    microbatch (so slowly-changing dims refresh) and needs NO state
    store at all; Spark broadcasts it when it is under the AQE
    threshold, which a dimension table should always be."""
    return sdf.join(F.broadcast(static_df), on, how)


def session_windows(
    sdf: DataFrame,
    time_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows (F.session_window): a session closes when
    no event arrives for ``gap``; window end = last event + gap. State is
    partitioned by (key, session) — the streaming mirror of the batch
    sessionize operator (olive_spark.ops.timeseries.sessionize)."""
    agg = (
        sdf.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap).alias("w"), key)
        .agg(F.count("*").alias("n_events"))
    )
    return agg.select(
        key,
        F.unix_micros(F.col("w.start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("w.end").cast("timestamp")).alias("end_us"),
        "n_events",
    )


def stateful_user_totals(sdf: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator: running per-user totals held in
    GroupState across microbatches (applyInPandasWithState). Emits the
    updated total for every key seen in a batch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, v double"

    def update(
        key_: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key_[0]], "n_events": [n], "total_value": [v]}
        )

    return sdf.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    time_col: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: for each left event, right
    events of the same key within the trailing ``lookback``.  Both sides
    carry watermarks and the join condition bounds right.ts to a finite
    range of left.ts, so state for either side is dropped once the
    watermark passes — bounded memory at any scale (the unbounded
    alternative would retain every row forever).  Append-only output:
    the matched id pairs."""
    a = left.withWatermark(time_col, watermark).alias("a")
    b = right.withWatermark(time_col, watermark).alias("b")
    cond = (
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col(f"b.{time_col}") >= F.col(f"a.{time_col}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"b.{time_col}") <= F.col(f"a.{time_col}"))
    )
    return a.join(b, cond, "inner")


def stream_dedup(
    sdf: DataFrame, subset: list[str], watermark_col: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dropDuplicates on ``subset``: first arrival per key
    survives, subsequent ones are dropped across microbatches.  With a
    watermark column, ``dropDuplicatesWithinWatermark`` dedups on the
    KEY ALONE while letting per-key state age out past the watermark
    (the at-scale mode — duplicates arriving within the watermark delay
    are dropped, state is bounded).  Plain ``dropDuplicates(subset +
    [watermark_col])`` would instead treat each distinct event time as
    a new key, which is event-level — not key-level — dedup.  Without a
    watermark column state grows with distinct keys."""
    if watermark_col:
        sdf = sdf.withWatermark(watermark_col, watermark)
        return sdf.dropDuplicatesWithinWatermark(subset)
    return sdf.dropDuplicates(subset)


def run_available_now(
    sdf: DataFrame, output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink; return the final result as a batch DataFrame.

    ``state_partitions`` sizes the stateful-operator shuffle for this
    query.  Unlike batch, streaming has no AQE to coalesce shuffles, and
    the partition count is frozen into the checkpoint at first start —
    so it must be sized to the stateful KEY CARDINALITY (and executor
    count), not inherited from the batch-oriented session default.
    Every state-store partition costs a task + store maintenance per
    microbatch even when nearly empty, so a low-cardinality aggregation
    (e.g. counts per event_type) wants far fewer partitions than a
    wide batch join.  The session conf is restored after start.
    """
    name = f"olive_stream_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if state_partitions is not None:
        spark.conf.set(key, str(state_partitions))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set(key, prev)
    return sdf.sparkSession.table(name)


def write_stream_olive(
    sdf: DataFrame, path: str, checkpoint: str, **options
) -> None:
    """Stream into an olive directory (availableNow, runs to completion)."""
    w = (
        sdf.writeStream.format("olive")
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    for k, v in options.items():
        w = w.option(k, v)
    q = w.start(path)
    q.awaitTermination()


def foreach_batch_upsert(
    target_path: str,
    key_cols: "list[str]",
    table: str = "data",
    latest_by: "str | None" = None,
    retain_history: bool = False,
    delete_col: "str | None" = None,
):
    """``foreachBatch`` function that MERGEs every microbatch into a
    snapshot-logged olive table (ops.maintenance.merge_upsert) — the
    streaming leg of the lakehouse CDC story: tail a change stream,
    upsert each batch copy-on-write, one snapshot version per batch.

    ``delete_col`` marks tombstone rows (WHEN MATCHED THEN DELETE) so
    row deletions ride the same change stream as upserts.

    Pass ``latest_by`` (a sequence/timestamp column) for latest-wins
    conflict resolution; the final table is then a pure function of
    each key's maximum-sequence row, so ANY batch partitioning of the
    same change stream — one availableNow epoch or fifty capped
    microbatches — converges to the identical table (exactly-once not
    required: a replayed batch re-merges rows that already won or
    already lost, both no-ops).  Without ``latest_by``, a key that
    appears in two microbatches resolves by batch order — fine for
    append-mostly streams, nondeterministic under admission-cap
    changes; prefer ``latest_by`` for oracle-checked pipelines.

    ``retain_history`` defaults off here (unlike batch merge): a
    per-batch version trail over a long stream multiplies storage;
    turn it on for short audited backfills."""
    from olive_spark.ops.maintenance import merge_upsert

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_upsert(
                batch_df.sparkSession, target_path, batch_df, key_cols,
                table=table, retain_history=retain_history,
                latest_by=latest_by, delete_col=delete_col,
            )

    return apply


def stream_upsert_available_now(
    sdf: DataFrame,
    target_path: str,
    key_cols: "list[str]",
    checkpoint: str,
    table: str = "data",
    latest_by: "str | None" = None,
    delete_col: "str | None" = None,
    source_path: "str | None" = None,
) -> int:
    """Drain a (capped) stream into a target table via per-microbatch
    MERGE, in bounded availableNow epochs; returns the number of runs
    that made progress.  Combine with ``maxFilesPerTrigger`` +
    ``admissionStateDir`` on the source so every batch — and therefore
    every copy-on-write rewrite — is bounded.  ``source_path`` (the
    stream's olive directory) lets the drain loop skip its final
    no-progress probe run (see drain_available_now)."""

    def start():
        return (
            sdf.writeStream.foreachBatch(
                foreach_batch_upsert(
                    target_path, key_cols, table=table, latest_by=latest_by,
                    delete_col=delete_col,
                )
            )
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    return drain_available_now(
        start, source_paths=[source_path] if source_path else None
    )


def stream_matview_available_now(
    sdf: DataFrame,
    src_path: str,
    checkpoint: str,
    mv_path: str,
    group_cols: "list[str]",
    aggs: "dict[str, str]",
    src_table: str = "data",
    mv_table: str = "matview",
    mode: str = "auto",
    max_runs: int = 1000,
    stream_source_path: "str | None" = None,
) -> int:
    """The continuous-aggregate loop: drain a (capped) stream into a
    snapshot-logged olive table through the EXACTLY-ONCE sink, and
    delta-refresh a materialized aggregate (ops.matview) after every
    bounded epoch — so the view tracks the table while the backlog is
    still draining, and each refresh folds only that epoch's commit.

    Replay-safe by construction, with no foreachBatch txn bookkeeping:
    the sink's per-batch commit log already deduplicates re-run epochs,
    and refresh_matview is idempotent on its own snapshot-version
    cursor — a crash anywhere re-converges on the next call.  Combine
    with ``maxFilesPerTrigger`` + ``admissionStateDir`` on the source
    so every epoch (and therefore every refresh's change feed) is
    bounded.  Returns the number of epochs that processed data."""
    from olive_spark.ops.matview import refresh_matview

    spark = sdf.sparkSession

    def refresh():
        refresh_matview(
            spark, src_path, mv_path, group_cols=group_cols, aggs=aggs,
            src_table=src_table, mv_table=mv_table, mode=mode,
        )

    # the view must exist BEFORE the stream so epoch refreshes are
    # incremental folds, not one deferred full build
    refresh()

    def start():
        return (
            sdf.writeStream.format("olive")
            .option("table", src_table)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start(src_path)
        )

    return drain_available_now(
        start, max_runs=max_runs, on_epoch=refresh,
        source_paths=[stream_source_path] if stream_source_path else None,
    )


def stream_to_branch_available_now(
    sdf: DataFrame,
    path: str,
    branch_name: str,
    checkpoint: str,
    source_path: "str | None" = None,
) -> int:
    """Streaming WRITE-AUDIT-PUBLISH (r12): drain a (capped) stream
    onto a WAP BRANCH of a snapshot-logged olive table — every
    microbatch stages as branch files invisible to live scans; the
    caller audits the branch (``publish_branch(expect=...)``) and
    publishes the whole drained backlog as ONE tagged live commit.
    The Iceberg streaming-WAP story: continuous ingest, gated release.

    Exactly-once without the sink's commit log: each microbatch
    appends with ``epoch=(checkpoint, batch_id)`` and
    ``append_to_branch`` records delivered ids in the branch ref, so a
    crash-replayed epoch skips instead of double-staging.  Combine
    with ``maxFilesPerTrigger`` + ``admissionStateDir`` on the source
    for bounded epochs; returns the number of runs that progressed."""
    from olive_spark.ops.branch import append_to_branch

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            append_to_branch(
                batch_df.sparkSession, batch_df, path, branch_name,
                epoch=(checkpoint, batch_id),
            )

    def start():
        return (
            sdf.writeStream.foreachBatch(apply)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    return drain_available_now(
        start, source_paths=[source_path] if source_path else None
    )


def _offset_index(raw) -> "int | None":
    """Index field of an olive stream offset: a dict, a JSON string, or
    the Python repr Spark reports for a Python source's offset in
    ``lastProgress`` (``"{'index': 1, 'digest': '...'}"``)."""
    import ast
    import json

    doc = raw
    if not isinstance(raw, dict):
        try:
            doc = json.loads(raw)
        except (ValueError, TypeError):
            try:
                doc = ast.literal_eval(raw)
            except (ValueError, TypeError, SyntaxError):
                return None
    idx = doc.get("index") if isinstance(doc, dict) else None
    return int(idx) if isinstance(idx, int) and idx >= 0 else None


def _backlog_drained(progress, source_paths) -> bool:
    """True when every source's end offset covers its directory's
    CURRENT listing — i.e. another run could not make progress.  The
    listing happens after the run completed, so files appended while it
    ran keep the loop going exactly like the no-progress probe would.
    Conservative on any parse/listing doubt (returns False → the caller
    falls back to the probe run)."""
    from olive_spark.datasource.olive_datasource import _list_chunk_files

    sources = (progress or {}).get("sources") or ()
    if not source_paths or len(sources) != len(source_paths):
        return False
    for s, path in zip(sources, source_paths):
        idx = _offset_index(s.get("endOffset"))
        if idx is None:
            return False
        try:
            n = len(_list_chunk_files(path))
        except Exception:  # noqa: BLE001 — unlistable: let the probe decide
            return False
        if idx < n:
            return False
    return True


def drain_available_now(
    start_query, max_runs: int = 1000, on_epoch=None,
    source_paths: "list[str] | None" = None,
) -> int:
    """Drain a capped backlog in bounded epochs: repeatedly start an
    availableNow query (``start_query() -> StreamingQuery``) and await
    it, until a run makes no progress.  Returns the number of runs that
    processed data.

    Why a loop: Spark captures ONE target offset per availableNow run
    (measured — see OliveStreamReader), so a single run is a single
    epoch no matter the admission caps.  With ``maxFilesPerTrigger`` +
    ``admissionStateDir`` on the source, each run's target is capped
    relative to the previous run's planned offset, so a 100-file
    backlog at cap 10 drains in 10 runs of one bounded epoch each —
    checkpoint progress after every run, instead of one giant
    all-or-nothing epoch (the r6 audit's availableNow hole).

    ``start_query`` must build a fresh query against the SAME
    checkpoint each call.  Progress is OFFSET advancement, not row
    counts: an epoch that admits only schema-bearing empty chunks
    (routine — zero-row commits write one, see
    OliveWriter._write_empty_table) moves the checkpoint while
    reporting numInputRows == 0, and stopping there would strand the
    rest of the backlog behind it.

    ``on_epoch`` (optional callable, no args) runs after every epoch
    that made progress — the hook the continuous-aggregate loop uses to
    refresh a matview per commit.

    ``source_paths`` (optional, one olive directory per stream source in
    plan order) lets the loop stop WITHOUT the final no-progress probe
    run: when every source's end offset already covers its directory's
    current file listing, another run provably cannot advance, and the
    probe's full query lifecycle (~2 s of checkpoint/runner setup per
    availableNow start, measured r15) is pure latency.  Unparseable
    offsets or unlistable directories fall back to the probe."""
    runs = 0
    last_end = None
    for _ in range(int(max_runs)):
        q = start_query()
        q.awaitTermination()
        progress = q.lastProgress
        end = None
        if progress and progress.get("sources"):
            # ALL sources, as a tuple: in a multi-source query (e.g. a
            # stream-stream join of two olive sources) source 0 can be
            # fully drained while source 1 still has backlog — stopping
            # on source 0 alone would strand it
            end = tuple(
                s.get("endOffset") for s in progress["sources"]
            )
        if end is None or end == last_end:
            break
        last_end = end
        runs += 1
        if on_epoch is not None:
            on_epoch()
        if _backlog_drained(progress, source_paths):
            break
    return runs
