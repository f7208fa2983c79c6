"""Relational coverage, round-2 continuation: full-frame navigation
windows, histogram bucketing, and a deterministic salted skew join.

The reference implements no relational operators (SURVEY.md §2.6); each
query here exercises a Spark surface over olive-format scans with an
exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from olive_spark.queries import data
from olive_spark.queries.relational import D, _dec


def window_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """Full-frame navigation: last_value / nth_value over an unbounded
    frame plus cume_dist, per user ordered by event time.  cume_dist is
    a ratio of small ints — IEEE double division is bit-identical in
    both engines (rounded anyway for the hash)."""
    df = data.load(spark, sf, "events", columns=["event_id", "user_id", "ts"])
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    wo = Window.partitionBy("user_id").orderBy(tus, F.col("event_id"))
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return df.select(
        "user_id",
        "event_id",
        F.last("event_id").over(wf).alias("last_event"),
        F.nth_value("event_id", 3).over(wf).alias("third_event"),
        F.round(F.cume_dist().over(wo), 9).alias("cd"),
    )


SQL_WINDOW_FIRST_LAST = (
    "SELECT user_id, event_id, "
    "LAST_VALUE(event_id) OVER wf AS last_event, "
    "NTH_VALUE(event_id, 3) OVER wf AS third_event, "
    "ROUND(CUME_DIST() OVER wo, 9) AS cd "
    "FROM events WINDOW "
    "wo AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id), "
    "wf AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
)


def agg_histogram_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of order totals (5000-wide buckets) — the
    bucketing is exact decimal floor-division, so bucket edges cannot
    drift between engines the way float multiplication could."""
    df = data.load(spark, sf, "orders", columns=["o_totalprice"])
    bucket = F.floor(_dec("o_totalprice") / 5000).cast("long")
    return (
        df.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("decimal(28,2)").alias("sum_price"),
        )
        .orderBy("bucket")
    )


SQL_AGG_HISTOGRAM = (
    "SELECT CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) / 5000) AS BIGINT) AS bucket, "
    "COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sum_price "
    "FROM orders GROUP BY 1 ORDER BY bucket"
)


def join_skew_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-mitigated join: events (skewed fact — a few users dominate)
    ⋈ per-user dimension.  The dimension side is exploded across 8
    deterministic salt values and the fact side salts on event_id % 8,
    so one hot user_id fans out over 8 reducers instead of one.  The
    oracle is the UNSALTED join — salting must be semantically
    invisible."""
    ev = data.load(spark, sf, "events", columns=["event_id", "user_id", "value"])
    users = (
        data.load(spark, sf, "events", columns=["user_id", "value"])
        .groupBy("user_id")
        .agg(F.max("value").alias("user_max"))  # max: order-independent, bit-stable
    )
    n_salt = 8
    dim = users.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    fact = ev.withColumn("salt", (F.col("event_id") % n_salt).cast("int"))
    joined = fact.join(dim, ["user_id", "salt"])
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("value") == F.col("user_max"), 1).otherwise(0)).alias("n_at_max"),
    )


SQL_JOIN_SKEW = (
    "SELECT e.user_id, COUNT(*) AS n_events, "
    "CAST(SUM(CASE WHEN e.value = u.user_max THEN 1 ELSE 0 END) AS BIGINT) AS n_at_max "
    "FROM events e JOIN (SELECT user_id, MAX(value) AS user_max "
    "FROM events GROUP BY user_id) u ON e.user_id = u.user_id "
    "GROUP BY e.user_id"
)


def scan_partitioned_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Hive-partitioned olive scan: events written once as
    ``event_type=<v>/part-*.olive``; an IN filter then prunes whole
    directories before any chunk header is opened (tests prove pruned
    dirs are never read — a poisoned file in a non-matching partition
    doesn't fail the scan)."""
    df = data.load_partitioned(
        spark, sf, "events", "event_type",
        columns=["event_type", "user_id", "value"],
    )
    return (
        df.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(D)).cast(D).alias("sum_value"),
        )
    )


SQL_SCAN_PARTITIONED = (
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value "
    "FROM events WHERE event_type IN ('click', 'purchase') "
    "GROUP BY event_type"
)


def _ensure_events_hidden(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) the events table under HIDDEN day
    partitioning (format/partition.py): ``partitionBy=days(ts)`` lays
    out ``ts_day=YYYY-MM-DD/`` dirs derived from the ts column — no
    synthetic day column in the data."""

    def build(out: str) -> None:
        cols = ["event_id", "ts", "user_id", "event_type", "value"]
        ev = data.load(spark, sf, "events", columns=cols)
        ev.repartition(4).write.format("olive") \
            .option("table", "events_hidden") \
            .option("partitionBy", "days(ts)").mode("append").save(out)

    return _build_once(spark, sf, "events_hidden", "_HIDDEN_OK", build)


def scan_hidden_partition_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Hidden-partition pruning parity: a ts-RANGE filter on the
    days(ts)-partitioned events table — the scan maps the source-column
    predicates onto ``ts_day`` directory intervals and skips the other
    ~27 day dirs at plan time (interval soundness pytest-pinned in
    tests/test_hidden_partition.py); results must equal plain SQL over
    the unpartitioned view, including rows at both window boundaries."""
    path = _ensure_events_hidden(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "events_hidden") \
        .option("pushdown", "true").load(path)
    lo = "2024-01-10 00:00:00"
    hi = "2024-01-13 00:00:00"
    return (
        df.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_ids"),
            F.sum(F.col("value").cast(D)).cast(D).alias("sum_value"),
        )
    )


SQL_HIDDEN_PARTITION = (
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(event_id) AS BIGINT) AS sum_ids, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value "
    "FROM events "
    "WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' "
    "AND ts < TIMESTAMP '2024-01-13 00:00:00' "
    "GROUP BY event_type"
)


def _ensure_events_bucketed(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) events under hidden BUCKET partitioning:
    ``partitionBy=bucket(8, user_id)`` → ``user_id_bucket8=K/`` dirs
    derived as pmod(user_id, 8), no synthetic column in the data."""

    def build(out: str) -> None:
        cols = ["event_id", "user_id", "event_type", "value"]
        ev = data.load(spark, sf, "events", columns=cols)
        ev.repartition(4).write.format("olive") \
            .option("table", "events_bucketed") \
            .option("partitionBy", "bucket(8, user_id)") \
            .mode("append").save(out)

    return _build_once(spark, sf, "events_bucketed", "_BUCKET_OK", build)


def scan_bucket_partition_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Hidden bucket-partition parity: user_id point/IN lookups on the
    bucket(8, user_id) layout — the scan prunes to pmod-matching bucket
    dirs at plan time (membership math pytest-pinned); results must
    equal plain SQL over the unbucketed view, including a user whose
    bucket collides with another requested user's."""
    path = _ensure_events_bucketed(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "events_bucketed") \
        .option("pushdown", "true").load(path)
    return (
        df.filter(F.col("user_id").isin(7, 15, 42))
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_ids"),
            F.sum(F.col("value").cast(D)).cast(D).alias("sum_value"),
        )
    )


SQL_BUCKET_PARTITION = (
    "SELECT user_id, event_type, COUNT(*) AS n, "
    "CAST(SUM(event_id) AS BIGINT) AS sum_ids, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value "
    "FROM events WHERE user_id IN (7, 15, 42) "
    "GROUP BY user_id, event_type"
)


def _ensure_events_truncated(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) events under ``truncate(16, user_id)``
    hidden partitioning: dirs ``user_id_trunc16=0,16,...,144`` hold the
    Iceberg floor-to-multiple ranges — no synthetic column in the
    data."""

    def build(out: str) -> None:
        cols = ["event_id", "user_id", "event_type", "value"]
        ev = data.load(spark, sf, "events", columns=cols)
        ev.repartition(4).write.format("olive") \
            .option("table", "events_truncated") \
            .option("partitionBy", "truncate(16, user_id)") \
            .mode("append").save(out)

    return _build_once(spark, sf, "events_truncated", "_TRUNC_OK", build)


def scan_truncate_partition_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Hidden truncate-partition parity (r9): a user_id RANGE filter on
    the truncate(16, user_id) layout — dirs cover [d, d+16), so the
    40..55 window prunes to the 32/48 dirs at plan time (range math
    pytest-pinned in tests/test_hidden_partition.py); results must
    equal plain SQL over the unpartitioned view, including both range
    boundaries."""
    path = _ensure_events_truncated(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "events_truncated") \
        .option("pushdown", "true").load(path)
    return (
        df.filter((F.col("user_id") >= 40) & (F.col("user_id") <= 55))
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_ids"),
            F.sum(F.col("value").cast(D)).cast(D).alias("sum_value"),
        )
    )


SQL_TRUNCATE_PARTITION = (
    "SELECT user_id, event_type, COUNT(*) AS n, "
    "CAST(SUM(event_id) AS BIGINT) AS sum_ids, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value "
    "FROM events WHERE user_id >= 40 AND user_id <= 55 "
    "GROUP BY user_id, event_type"
)


def _ensure_events_hidden_merged(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a days(ts) hidden-partitioned events
    table and run MERGE + DELETE against it — the combination r8
    refused (rewrites on transform layouts):

      v1  base: events written with ``partitionBy=days(ts)``
      v2  merge_upsert keyed on event_id — %7==0 events get value+1000
          (updates, same day dirs), and %7==3 events re-insert at
          event_id+900M with ts shifted +40 days (inserts landing in
          BRAND-NEW February day dirs the writer derives from the spec)
      v3  delete_where event_id % 13 = 0 on the original keys

    Every transform is a pure function of the base events view, so the
    DuckDB oracle replays it in plain SQL; layout preservation (no file
    outside a ts_day dir, post-merge transform pruning) is pinned by
    tests/test_hidden_partition.py."""
    from olive_spark.ops.maintenance import delete_where, merge_upsert

    def build(out: str) -> None:
        cols = ["event_id", "ts", "user_id", "event_type", "value"]
        ev = data.load(spark, sf, "events", columns=cols)
        ev.repartition(4).write.format("olive") \
            .option("table", "data") \
            .option("partitionBy", "days(ts)").mode("append").save(out)
        updates = ev.filter(F.col("event_id") % 7 == 0).withColumn(
            "value", F.col("value") + 1000
        )
        inserts = ev.filter(F.col("event_id") % 7 == 3).select(
            (F.col("event_id") + 900_000_000).alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
            "user_id", "event_type",
            (F.col("value") * 2).alias("value"),
        )
        merge_upsert(spark, out, updates.unionByName(inserts), ["event_id"])
        delete_where(
            spark, out, "event_id % 13 = 0 AND event_id < 900000000"
        )

    return _build_once(spark, sf, "events_hidden_merged", "_HMERGE_OK", build)


def scan_merge_hidden_partition(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE + DELETE on a days(ts) HIDDEN-partitioned table (r9 — the
    canonical 100 TB event-table combination, mutually exclusive with
    hidden layouts until this round): the rewrite re-derives every
    rewritten/inserted row's day dir from the transform spec.  The scan
    filters a ts window straddling original-January and inserted-
    February dirs THROUGH transform pruning (pushdown on), so a rewrite
    that flattened the layout, misplaced an inserted row's dir, lost a
    bystander row, or broke post-merge pruning hash-mismatches against
    the oracle's plain-SQL replay over the base events view."""
    path = _ensure_events_hidden_merged(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "data") \
        .option("pushdown", "true").load(path)
    lo = "2024-01-20 00:00:00"
    hi = "2024-02-25 00:00:00"
    return (
        df.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_ids"),
            F.sum(F.col("value").cast(D)).cast(D).alias("sum_value"),
        )
    )


SQL_MERGE_HIDDEN_PARTITION = (
    "WITH src AS ("
    "SELECT event_id, ts, user_id, event_type, value + 1000 AS value "
    "FROM events WHERE event_id % 7 = 0 "
    "UNION ALL "
    "SELECT event_id + 900000000, ts + INTERVAL 40 DAY, user_id, "
    "event_type, value * 2 FROM events WHERE event_id % 7 = 3), "
    "merged AS ("
    "SELECT event_id, ts, user_id, event_type, value FROM events "
    "WHERE event_id NOT IN (SELECT event_id FROM src) "
    "UNION ALL SELECT * FROM src), "
    "final AS (SELECT * FROM merged "
    "WHERE NOT (event_id % 13 = 0 AND event_id < 900000000)) "
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(event_id) AS BIGINT) AS sum_ids, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value "
    "FROM final WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' "
    "AND ts < TIMESTAMP '2024-02-25 00:00:00' "
    "GROUP BY event_type"
)


def _ensure_orders_respec(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising partition-spec
    EVOLUTION (ops/maintenance.respec_partitions):

      v1  orders written under classic hive ``o_orderstatus`` dirs
      v2  respec_partitions -> ``bucket(8, o_custkey)`` hidden layout
          (one copy-on-write rewrite; sidecar repointed)
      v3  delete_where o_orderkey % 9 = 4 — a mutation on the POST-
          respec layout, proving the migrated table is fully mutable

    Content is a pure function of the base orders view (respec moves
    bytes, never changes rows), so the oracle replays only the
    delete."""
    from olive_spark.ops.maintenance import delete_where, respec_partitions

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.repartition("o_orderstatus").write.format("olive") \
            .option("table", "data") \
            .option("partitionBy", "o_orderstatus").mode("append").save(out)
        respec_partitions(spark, out, "bucket(8, o_custkey)")
        delete_where(spark, out, "o_orderkey % 9 = 4")

    return _build_once(spark, sf, "orders_respec", "_RESPEC_OK", build)


def scan_after_respec(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-spec evolution parity (r9): orders migrated from hive
    o_orderstatus dirs to a bucket(8, o_custkey) hidden layout, then
    mutated in place.  A custkey IN probe exercises bucket pruning on
    the MIGRATED layout (pushdown on); a respec that lost/duplicated
    rows, left stale dirs live, or broke post-migration pruning
    hash-mismatches the oracle's replay over the base orders view."""
    path = _ensure_orders_respec(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "data") \
        .option("pushdown", "true").load(path)
    return (
        df.filter(F.col("o_custkey").isin(7, 40, 101))
        .groupBy("o_custkey", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("sum_keys"),
            F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        )
    )


SQL_AFTER_RESPEC = (
    "SELECT o_custkey, o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "AS sum_price "
    "FROM orders WHERE o_custkey IN (7, 40, 101) "
    "AND NOT (o_orderkey % 9 = 4) "
    "GROUP BY o_custkey, o_orderstatus"
)


def _ensure_orders_renamed(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising metadata-only RENAME
    COLUMN (ops/maintenance.rename_column):

      v1  orders (o_orderkey, o_custkey, o_totalprice)
      --  rename o_totalprice -> price (no rewrite: old files keep the
          bytes under the old name; reads map per file)
      v2  append NEW-name rows: %10==1 custkeys re-keyed +900M with
          price*3 — the table now mixes pre-rename and post-rename
          files
      v3  update_where price = price + 1000 WHERE o_orderkey % 11 = 0 —
          a copy-on-write rewrite THROUGH the mapping (affected old
          files re-land under the new name)

    All reconstructable from the base orders view in plain SQL."""
    from olive_spark.ops.maintenance import rename_column, update_where

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.repartition(4).write.format("olive") \
            .option("table", "data").mode("append").save(out)
        rename_column(out, "o_totalprice", "price")
        extra = base.filter(F.col("o_custkey") % 10 == 1).select(
            (F.col("o_orderkey") + 900_000_000).alias("o_orderkey"),
            "o_custkey",
            (F.col("o_totalprice") * 3).alias("price"),
        )
        extra.write.format("olive").option("table", "data") \
            .mode("append").save(out)
        update_where(
            spark, out, {"price": "price + 1000"}, "o_orderkey % 11 = 0"
        )

    return _build_once(spark, sf, "orders_renamed", "_RENAME_OK", build)


def scan_after_rename_column(spark: SparkSession, sf: str) -> DataFrame:
    """RENAME COLUMN parity (r9): pre-rename files project the renamed
    column out of their stored (old) name at read time, post-rename
    appends and a copy-on-write UPDATE through the mapping mix in the
    same scan.  A rename that null-filled old files, leaked the old
    name, or double-applied the update hash-mismatches the oracle."""
    path = _ensure_orders_renamed(spark, sf)
    df = spark.read.format("olive").option("table", "data").load(path)
    return df.groupBy((F.col("o_custkey") % 10).alias("ck_mod")).agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").alias("sum_keys"),
        F.sum(F.col("price").cast(D)).cast(D).alias("sum_price"),
    )


SQL_AFTER_RENAME = (
    "WITH renamed AS ("
    "SELECT o_orderkey, o_custkey, o_totalprice AS price FROM orders "
    "UNION ALL "
    "SELECT o_orderkey + 900000000, o_custkey, o_totalprice * 3 "
    "FROM orders WHERE o_custkey % 10 = 1), "
    "updated AS ("
    "SELECT o_orderkey, o_custkey, "
    "CASE WHEN o_orderkey % 11 = 0 THEN price + 1000 ELSE price END "
    "AS price FROM renamed) "
    "SELECT o_custkey % 10 AS ck_mod, COUNT(*) AS n, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, "
    "CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "AS sum_price "
    "FROM updated GROUP BY o_custkey % 10"
)


def _ensure_orders_cloned(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a SHALLOW CLONE exercise
    (ops/maintenance.clone_table): base orders table -> clone
    (hardlinked files, fresh history) -> DELETE on the CLONE only.
    The clone's post-state is a pure function of the base orders view;
    isolation (the source keeps all rows while the clone mutates) is
    additionally asserted here at build time — a clone that shared
    mutable state with its source would fail the count check."""
    import os as _os

    from olive_spark.ops.maintenance import clone_table, delete_where

    def build(out: str) -> None:
        src = out + "__src"
        import shutil as _shutil

        if _os.path.exists(src):
            _shutil.rmtree(src)
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.repartition(4).write.format("olive").option("table", "data") \
            .mode("append").save(src)
        n = spark.read.format("olive").load(src).count()
        clone_table(src, out)
        delete_where(spark, out, "o_orderkey % 6 = 1")
        post_src = spark.read.format("olive").load(src).count()
        if post_src != n:
            raise AssertionError(
                f"clone mutation leaked into the source: {post_src} != {n}"
            )

    return _build_once(spark, sf, "orders_cloned", "_CLONE_OK", build)


def scan_after_clone(spark: SparkSession, sf: str) -> DataFrame:
    """Shallow-clone parity (r9): the clone reads exactly the source
    state it was taken from, minus the delete applied to the CLONE
    alone (copy-on-write on hardlinked files — the source is count-
    checked unchanged at fixture build).  A clone that lost files,
    shared rewrites with its source, or double-counted hardlinked
    bytes hash-mismatches the oracle's base-table replay."""
    path = _ensure_orders_cloned(spark, sf)
    df = spark.read.format("olive").option("table", "data").load(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").alias("sum_keys"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
    )


SQL_AFTER_CLONE = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "AS sum_price "
    "FROM orders WHERE NOT (o_orderkey % 6 = 1) "
    "GROUP BY o_orderstatus"
)


def scan_table_by_name(spark: SparkSession, sf: str) -> DataFrame:
    """Name-addressed SQL (r9, olive_spark.register_table): the orders
    olive directory registers as a temporary view backed by the olive
    data source, and the query is PLAIN SQL against the name — the
    ergonomic surface path users coming from catalog tables expect
    (the Python-DSv2 catalog boundary is documented on
    register_table)."""
    from olive_spark.table import register_table

    data.load(spark, sf, "orders")  # materialize the olive cache dir
    import os as _os

    path = _os.path.join(data.ensure_olive(sf), "orders")
    register_table(spark, "orders_named_r9", path, table="orders")
    return spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS n, "
        "SUM(o_orderkey) AS sum_keys, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
        "AS sum_price "
        "FROM orders_named_r9 GROUP BY o_orderstatus"
    )


SQL_TABLE_BY_NAME = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "AS sum_price "
    "FROM orders GROUP BY o_orderstatus"
)


def scan_view_freshness(spark: SparkSession, sf: str) -> DataFrame:
    """Version-fresh named views (r14, VERDICT r13 task #5): the view
    registers over a PARTIAL nation table, then the rest appends via
    plain ``df.write`` (refresh rides the save hook — the DSv2 commit
    itself lands in the plan worker, out of the commit listener's
    reach) and a delete_where trims the tail (refresh rides the
    snapshot-commit listener).  The SQL through the view must see the
    final state with NO manual re-register; a stale view would show
    the registration-time 15 rows and hash-mismatch."""
    import os as _os
    import shutil
    import uuid as _uuid

    from olive_spark.ops.maintenance import delete_where
    from olive_spark.table import register_table

    nation = data.load(spark, sf, "nation",
                       columns=["n_nationkey", "n_regionkey"])
    out = _os.path.join(data.ensure_olive(sf), "nation_view_fresh")
    shutil.rmtree(out, ignore_errors=True)
    nation.filter(F.col("n_nationkey") < 15).write.format("olive") \
        .mode("append").save(out)
    view = f"nation_fresh_{_uuid.uuid4().hex[:8]}"
    register_table(spark, view, out)
    # append AFTER registration (save-hook refresh path)
    nation.filter(F.col("n_nationkey") >= 15).write.format("olive") \
        .mode("append").save(out)
    # facade mutation (commit-listener refresh path)
    delete_where(spark, out, "n_nationkey >= 20")
    return spark.sql(
        f"SELECT n_regionkey, COUNT(*) AS n, "
        f"CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys "
        f"FROM {view} GROUP BY n_regionkey"
    )


SQL_VIEW_FRESHNESS = (
    "SELECT n_regionkey, COUNT(*) AS n, "
    "CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys "
    "FROM nation WHERE n_nationkey < 20 GROUP BY n_regionkey"
)


def _ensure_orders_zordered(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) an orders table Z-order-compacted on
    (o_custkey, o_orderkey) at 2,048-row pages — the two-predicate
    skipping layout (ops/maintenance.compact zorder_by + page_rows;
    the Delta OPTIMIZE ZORDER shape)."""
    from olive_spark.ops.maintenance import compact

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.write.format("olive").option("table", "orders_z") \
            .mode("append").save(out)
        compact(spark, out, target_rows=1 << 20, page_rows=2048,
                zorder_by=["o_custkey", "o_orderkey"], table="orders_z")

    return _build_once(spark, sf, "orders_zordered", "_ZORDER_OK", build)


def scan_zorder_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Two-predicate range scan over the Z-ORDERED orders table (r14,
    VERDICT r13 task #6): the Morton-clustered layout prunes pages on
    o_custkey AND o_orderkey multiplicatively, where a 1-D sort prunes
    only its own column (the comparative poisoned-page proof lives in
    tests/test_plans.py::test_zorder_two_predicate_page_opens_vs_plain_
    sort).  The oracle recomputes the aggregate from the parquet base —
    a rewrite that lost, duplicated, or re-keyed a row mismatches."""
    zpath = _ensure_orders_zordered(spark, sf)
    df = (
        spark.read.format("olive").option("table", "orders_z")
        .option("pushdown", "true").load(zpath)
        .filter(
            (F.col("o_custkey") >= 100) & (F.col("o_custkey") <= 500)
            & (F.col("o_orderkey") >= 10_000)
            & (F.col("o_orderkey") <= 200_000)
        )
    )
    return df.groupBy().agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").alias("sum_keys"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
    )


SQL_ZORDER_PRUNING = (
    "SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "AS sum_price FROM orders "
    "WHERE o_custkey BETWEEN 100 AND 500 "
    "AND o_orderkey BETWEEN 10000 AND 200000"
)


def _ensure_orders_hilbert(spark: SparkSession, sf: str) -> str:
    """orders compacted on the 2-D HILBERT curve (r14 — compact
    ``curve="hilbert"``): unit-step locality, no Morton quadrant-seam
    jumps; same normalization and page_rows as the z-order twin."""
    from olive_spark.ops.maintenance import compact

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.write.format("olive").option("table", "orders_h") \
            .mode("append").save(out)
        compact(spark, out, target_rows=1 << 20, page_rows=2048,
                zorder_by=["o_custkey", "o_orderkey"], curve="hilbert",
                table="orders_h")

    return _build_once(spark, sf, "orders_hilbert", "_HILBERT_OK", build)


def scan_hilbert_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Two-predicate range scan over the HILBERT-clustered orders table
    (r14): the exact-parity fold (tests/test_plans.py pins the JVM
    expression against the public xy2d algorithm point-by-point) feeds
    the same rewrite machinery as z-order; the oracle recomputes the
    aggregate from the parquet base."""
    zpath = _ensure_orders_hilbert(spark, sf)
    df = (
        spark.read.format("olive").option("table", "orders_h")
        .option("pushdown", "true").load(zpath)
        .filter(
            (F.col("o_custkey") >= 600) & (F.col("o_custkey") <= 900)
            & (F.col("o_orderkey") >= 300_000)
            & (F.col("o_orderkey") <= 500_000)
        )
    )
    return df.groupBy().agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").alias("sum_keys"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
    )


SQL_HILBERT_PRUNING = (
    "SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
    "AS sum_price FROM orders "
    "WHERE o_custkey BETWEEN 600 AND 900 "
    "AND o_orderkey BETWEEN 300000 AND 500000"
)


def scan_bloom_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Point lookups by content hash through per-file Bloom filters
    (write-side ``bloomColumns`` option; format/bloom.py): md5 values
    scatter uniformly so every chunk's min/max covers the full range and
    stats pruning is useless — the Bloom filter is what lets a point
    lookup at 100 TB open only the files whose filter admits the key.
    Three present keys + one absent; single filtered scan so pushdown
    is safe (see data.load)."""
    import hashlib

    df = data.load(
        spark, sf, "documents_hash", columns=["doc_id", "h"], pushdown=True
    )
    probes = [
        hashlib.md5(s.encode()).hexdigest()
        for s in ("7", "42", "123", "no-such-doc")
    ]
    return df.filter(F.col("h").isin(probes)).select("doc_id", "h")


SQL_SCAN_BLOOM = (
    "SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents "
    "WHERE md5(CAST(doc_id AS VARCHAR)) IN "
    "(md5('7'), md5('42'), md5('123'), md5('no-such-doc'))"
)


def ts_ewma_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user EWMA of event values (ops/timeseries.ewma): sequential
    recurrence no window frame expresses — one shuffle, JVM left fold
    over the time-sorted array.  Oracle = DuckDB list_reduce over the
    identically-ordered list: same IEEE ops in the same order, so the
    doubles agree bit-for-bit before the final round."""
    from olive_spark.ops.timeseries import ewma

    df = data.load(spark, sf, "events", columns=["user_id", "ts", "value"])
    return ewma(df, "user_id", "ts", "value", alpha=0.3)


SQL_TS_EWMA = (
    # list(... ORDER BY t, x) pins the fold order exactly like Spark's
    # sort_array(struct(t, x)); list_reduce seeds with the first element
    # like the aggregate-HOF fold seeded with element 1
    "SELECT user_id, COUNT(*) AS n, "
    "ROUND(list_reduce(list(value ORDER BY ts, value), "
    "(acc, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc), 6) AS ewma "
    "FROM events GROUP BY user_id"
)


def join_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap join (ops/timeseries.interval_join): synthetic
    10-50-minute intervals derived from events, one user population per
    side.  Grid-bucketed equi-join + first-shared-cell dedup — the
    inequality-only formulation would be a nested-loop cross product.
    Oracle = DuckDB's native inequality join over the same intervals."""
    from olive_spark.ops.timeseries import interval_join

    ev = data.load(spark, sf, "events", columns=["event_id", "user_id", "ts"])
    us = F.unix_micros(F.col("ts"))
    dur = (F.lit(1) + F.col("event_id") % 5) * F.lit(600_000_000)
    iv = ev.select(
        "event_id", "user_id", us.alias("s"), (us + dur).alias("e")
    )
    left = iv.filter(F.col("user_id") < 3).select(
        F.col("event_id").alias("l_id"), F.col("s").alias("l_start"),
        F.col("e").alias("l_end"),
    )
    right = iv.filter((F.col("user_id") >= 3) & (F.col("user_id") < 6)).select(
        F.col("event_id").alias("r_id"), F.col("s").alias("r_start"),
        F.col("e").alias("r_end"),
    )
    return interval_join(left, right, bucket_us=600_000_000)


SQL_INTERVAL_JOIN = (
    "WITH iv AS (SELECT event_id, user_id, epoch_us(ts) AS s, "
    "  epoch_us(ts) + (1 + event_id % 5) * 600000000 AS e FROM events), "
    "l AS (SELECT event_id AS l_id, s, e FROM iv WHERE user_id < 3), "
    "r AS (SELECT event_id AS r_id, s AS rs, e AS re FROM iv "
    "  WHERE user_id >= 3 AND user_id < 6) "
    "SELECT l_id, r_id, "
    "least(e, re) - greatest(s, rs) AS overlap_us "
    "FROM l JOIN r ON s < re AND rs < e"
)


def scalar_hash_bitwise(spark: SparkSession, sf: str) -> DataFrame:
    """Hash + bitwise scalar surface: md5 / sha2-256 content hashes
    (the dedup-pipeline primitives), bit and/or/xor/shift, bit_count,
    hex.  All JVM-side built-ins."""
    df = data.load(spark, sf, "customer", columns=["c_custkey", "c_name"])
    k = F.col("c_custkey")
    return df.select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("h_md5"),
        F.sha2(F.col("c_name"), 256).alias("h_sha256"),
        k.bitwiseAND(F.lit(255)).alias("b_and"),
        k.bitwiseOR(F.lit(4096)).alias("b_or"),
        k.bitwiseXOR(F.lit(0x5A5A)).alias("b_xor"),
        F.shiftleft(k, 3).alias("b_shl"),
        F.shiftright(k, 2).alias("b_shr"),
        F.bit_count(k).alias("b_pop"),
        F.lower(F.hex(k)).alias("k_hex"),
    )


SQL_SCALAR_HASH = (
    "SELECT c_custkey, "
    "md5(c_name) AS h_md5, "
    "sha256(c_name) AS h_sha256, "
    "c_custkey & 255 AS b_and, "
    "c_custkey | 4096 AS b_or, "
    "xor(c_custkey, 23130) AS b_xor, "
    "c_custkey << 3 AS b_shl, "
    "c_custkey >> 2 AS b_shr, "
    "bit_count(c_custkey) AS b_pop, "
    "lower(hex(c_custkey)) AS k_hex "
    "FROM customer"
)


def agg_median_disc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact median (continuous, interpolated) and discrete median per
    group, computed from a VALUE HISTOGRAM rather than Spark's
    buffer-all-values exact percentile aggregates (F.median /
    percentile_approx-at-max-accuracy hold every group value in executor
    memory — a 100 TB hazard).  The histogram path shuffles only
    (group, value, count) rows, bounded by the distinct-value count, and
    selects order statistics from the running count:

        disc   = smallest v with cum ≥ floor((n-1)/2)+1    (= DuckDB
                 quantile_disc's element at index (n-1)//2)
        median = mean of the elements at (n-1)//2 and n//2

    Interpolation on ints yields exact dyadic fractions, identical in
    both engines."""
    from pyspark.sql.window import Window as W

    df = data.load(spark, sf, "lineitem", columns=["l_returnflag", "l_quantity"])
    q = F.col("l_quantity").cast("long")
    hist = df.groupBy(F.col("l_returnflag"), q.alias("v")).agg(
        F.count("*").alias("cnt")
    )
    wcum = W.partitionBy("l_returnflag").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.partitionBy("l_returnflag").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    vals = hist.select(
        "l_returnflag", "v", "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    lo = (F.floor((F.col("n") - 1) / 2) + 1).cast("long")
    hi = (F.floor(F.col("n") / 2) + 1).cast("long")
    stats = vals.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("cum") >= lo, F.col("v"))).alias("lo_v"),
        F.min(F.when(F.col("cum") >= hi, F.col("v"))).alias("hi_v"),
        F.min("v").alias("min_qty"),
        F.max("v").alias("max_qty"),
        F.sum("cnt").alias("n"),
    )
    return stats.select(
        "l_returnflag",
        ((F.col("lo_v") + F.col("hi_v")) / 2.0).alias("med_qty"),
        F.col("lo_v").alias("med_disc"),
        "min_qty",
        "max_qty",
        "n",
    )


SQL_AGG_MEDIAN = (
    "SELECT l_returnflag, "
    "median(CAST(l_quantity AS BIGINT)) AS med_qty, "
    "quantile_disc(CAST(l_quantity AS BIGINT), 0.5) AS med_disc, "
    "MIN(CAST(l_quantity AS BIGINT)) AS min_qty, "
    "MAX(CAST(l_quantity AS BIGINT)) AS max_qty, "
    "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
)


def agg_grouped_map_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Custom grouped-map operator (applyInPandas): per-user median and
    MAD (median absolute deviation) of event values — the robust-stats
    pair that z-score outlier gates use.  Median/MAD are
    order-independent (unlike mean/std whose float summation order
    varies), so the pandas computation is bit-identical to the oracle's.
    Pattern cost: one shuffle on the grouping key, Arrow-batched python
    roundtrip per group partition — the shape every custom per-entity
    model step takes at scale."""
    import pandas as pd

    df = data.load(spark, sf, "events", columns=["user_id", "value"])

    def mad(pdf: pd.DataFrame) -> pd.DataFrame:
        med = pdf["value"].median()
        return pd.DataFrame({
            "user_id": [pdf["user_id"].iloc[0]],
            "med_value": [round(med, 9)],
            "mad_value": [round((pdf["value"] - med).abs().median(), 9)],
            "n": [len(pdf)],
        })

    return df.groupBy("user_id").applyInPandas(
        mad, "user_id long, med_value double, mad_value double, n long"
    )


SQL_GROUPED_MAD = (
    "SELECT user_id, ROUND(median(value), 9) AS med_value, "
    "ROUND(median(ABS(value - med)), 9) AS mad_value, COUNT(*) AS n "
    "FROM (SELECT user_id, value, "
    "median(value) OVER (PARTITION BY user_id) AS med FROM events) "
    "GROUP BY user_id"
)


def ts_resample_locf(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style resample: hourly buckets per user with
    last-observation-carried-forward gap fill (time_bucket_gapfill +
    locf).  Grid generation is JVM-side sequence()+explode keyed on the
    user — no shuffle beyond the bucket aggregate."""
    from olive_spark.ops.timeseries import resample_locf

    df = data.load(spark, sf, "events", columns=["user_id", "ts", "value"])
    return resample_locf(df, "ts", "user_id", "value", 3_600_000_000)


SQL_TS_RESAMPLE = (
    "WITH b AS (SELECT user_id, "
    "epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us, value, "
    "ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) - epoch_us(ts) % 3600000000 "
    "ORDER BY epoch_us(ts) DESC, value DESC) AS rn FROM events), "
    "pb AS (SELECT user_id, bucket_us, value AS last_value FROM b WHERE rn = 1), "
    "bounds AS (SELECT user_id, MIN(bucket_us) AS lo, MAX(bucket_us) AS hi "
    "FROM pb GROUP BY user_id), "
    "grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS bucket_us "
    "FROM bounds) "
    "SELECT g.user_id, g.bucket_us, "
    "LAST_VALUE(pb.last_value IGNORE NULLS) OVER ("
    "PARTITION BY g.user_id ORDER BY g.bucket_us "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf, "
    "pb.last_value IS NULL AS is_gap "
    "FROM grid g LEFT JOIN pb USING (user_id, bucket_us)"
)


def ts_resample_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style resample with LINEAR interpolation across gaps
    (time_bucket_gapfill + interpolate — ops/timeseries.
    resample_interpolate): hourly buckets per user; gap ticks evaluate
    prev + (next-prev)·(t-t_prev)/(t_next-t_prev) with exact BIGINT
    tick math and one double division, bit-stable vs the oracle."""
    from olive_spark.ops.timeseries import resample_interpolate

    df = data.load(spark, sf, "events", columns=["user_id", "ts", "value"])
    return resample_interpolate(df, "ts", "user_id", "value", 3_600_000_000)


SQL_TS_INTERP = (
    "WITH b AS (SELECT user_id, "
    "epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us, value, "
    "ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) - epoch_us(ts) % 3600000000 "
    "ORDER BY epoch_us(ts) DESC, value DESC) AS rn FROM events), "
    "pb AS (SELECT user_id, bucket_us, value AS last_value FROM b WHERE rn = 1), "
    "bounds AS (SELECT user_id, MIN(bucket_us) AS lo, MAX(bucket_us) AS hi "
    "FROM pb GROUP BY user_id), "
    "grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS bucket_us "
    "FROM bounds), "
    "j AS (SELECT g.user_id, g.bucket_us, pb.last_value, "
    "LAST_VALUE(pb.last_value IGNORE NULLS) OVER ("
    "PARTITION BY g.user_id ORDER BY g.bucket_us "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv, "
    "LAST_VALUE(CASE WHEN pb.last_value IS NOT NULL THEN g.bucket_us END IGNORE NULLS) OVER ("
    "PARTITION BY g.user_id ORDER BY g.bucket_us "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt, "
    "FIRST_VALUE(pb.last_value IGNORE NULLS) OVER ("
    "PARTITION BY g.user_id ORDER BY g.bucket_us "
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv, "
    "FIRST_VALUE(CASE WHEN pb.last_value IS NOT NULL THEN g.bucket_us END IGNORE NULLS) OVER ("
    "PARTITION BY g.user_id ORDER BY g.bucket_us "
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt "
    "FROM grid g LEFT JOIN pb USING (user_id, bucket_us)) "
    "SELECT user_id, bucket_us, "
    "CASE WHEN last_value IS NOT NULL THEN CAST(last_value AS DOUBLE) "
    "ELSE CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) * "
    "(CAST(bucket_us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) END AS value_interp, "
    "last_value IS NULL AS is_gap "
    "FROM j"
)


def join_fuzzy_names(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy self-join on part names (ops/dedup.fuzzy_pairs): all pairs
    within Levenshtein distance 2 via symmetric-deletion blocking — an
    equi-join on shared deletion variants, never a cartesian product.
    The brute-force cross-join oracle value-checks the blocking's
    COMPLETENESS: a single missed pair is a hash mismatch.  Restricted
    to p_partkey < 600 so the oracle's O(n²) side stays cheap at
    sf0.01."""
    from olive_spark.ops.dedup import fuzzy_pairs

    df = data.load(spark, sf, "part", columns=["p_partkey", "p_name"]) \
        .filter(F.col("p_partkey") < 600)
    return fuzzy_pairs(df, name_col="p_name", id_col="p_partkey", max_dist=2)


SQL_FUZZY_NAMES = (
    "SELECT a.p_partkey AS a_id, b.p_partkey AS b_id, "
    "CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist "
    "FROM part a JOIN part b ON a.p_partkey < b.p_partkey "
    "WHERE a.p_partkey < 600 AND b.p_partkey < 600 "
    "AND levenshtein(a.p_name, b.p_name) <= 2"
)


def scan_table_checksum(spark: SparkSession, sf: str) -> DataFrame:
    """Order-independent table content checksum over lineitem's
    exact-stringifying columns (ops/maintenance.table_checksum) — the
    migration-parity primitive: one number per engine per table,
    invariant under row order / partitioning / file layout, computed as
    a pure map-side-combined aggregate.  The oracle rebuilds the same
    md5-prefix integer digit-by-digit (DuckDB has no hex→int cast);
    13 hex digits keep each term exact in int64."""
    from olive_spark.ops.maintenance import table_checksum

    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_returnflag", "l_linestatus", "l_shipdate"]
    df = data.load(spark, sf, "lineitem", columns=cols)
    return table_checksum(df, cols)


SQL_TABLE_CHECKSUM = (
    "SELECT COUNT(*) AS n_rows, CAST(SUM(term) % 2305843009213693951 AS BIGINT) AS checksum FROM ("
    "SELECT CAST(list_sum(list_transform(range(1, 14), i -> "
    "  CAST((strpos('0123456789abcdef', substr(h, i, 1)) - 1) AS BIGINT) "
    "  * CAST(power(16, 13 - i) AS BIGINT))) AS BIGINT) AS term FROM ("
    "SELECT md5(concat_ws('|', l_orderkey, l_partkey, l_suppkey, "
    "l_linenumber, l_returnflag, l_linestatus, l_shipdate)) AS h "
    "FROM lineitem))"
)


def scan_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot read (format/snapshots.py): the derived
    events_versioned table has two logged commit versions (v1 =
    user_id < 50, v2 appends the rest); ``.option("snapshot", "1")``
    must scan exactly v1's file list — the oracle recomputes v1's
    content from the base events table, so a snapshot that leaked v2
    rows (or dropped v1 files) hash-mismatches."""
    import os as _os

    from olive_spark.datasource import register_olive

    register_olive(spark)
    path = _os.path.join(data.ensure_olive(sf), "events_versioned")
    df = spark.read.format("olive").option("snapshot", "1").load(path)
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(D)).cast(D).alias("sum_value"),
    )


SQL_TIME_TRAVEL = (
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value "
    "FROM events WHERE user_id < 50 GROUP BY event_type"
)


def scan_time_travel_timestamp(spark: SparkSession, sf: str) -> DataFrame:
    """Timestamp time travel (Delta's timestampAsOf; ``snapshotAsOf``
    option → format/snapshots.version_at_timestamp): an instant between
    the two logged commits of events_versioned must resolve to v1 —
    same oracle as scan_time_travel, so a resolver that picked the
    nearest-newer version (or compared timestamps off-by-one) serves
    v2's rows and hash-mismatches."""
    import os as _os

    from olive_spark.datasource import register_olive
    from olive_spark.format import snapshots as _snaps

    register_olive(spark)
    path = _os.path.join(data.ensure_olive(sf), "events_versioned")
    # heal pre-r12 caches whose back-to-back commits stamped equal ts —
    # without this, ANY asof >= ts1 resolves to v2 and the query would
    # be a latent hash-mismatch flake instead of deterministic (ADVICE)
    data.monotonize_log_ts(path)
    ts = {
        int(e["v"]): float(e["ts"])
        for e in _snaps.load_log(path)["entries"]
    }
    # strictly below ts2 and (log monotone) at/above ts1 → always v1
    import math as _math

    asof = max(ts[1], _math.nextafter(ts[2], float("-inf")))
    df = (
        spark.read.format("olive")
        .option("snapshotAsOf", repr(asof)).load(path)
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(D)).cast(D).alias("sum_value"),
    )


def scan_multi_table_txn(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-table atomic transaction (ops/txn.multi_table_append —
    two-phase commit with a coordinator decision marker): two derived
    event tables (user parity split) are seeded with event_id % 3 != 0,
    then ONE transaction lands the remaining third in BOTH tables —
    exactly one tagged snapshot version each.  The query joins per-type
    counts across the two tables; the oracle recomputes both splits
    from the base events table, so a transaction that double-published,
    dropped a participant, or leaked staged files into scans
    hash-mismatches."""
    import os as _os

    from olive_spark.datasource import register_olive
    from olive_spark.ops import txn as _txn

    register_olive(spark)
    root = data.ensure_olive(sf)
    a = _os.path.join(root, "txn_events_even")
    b = _os.path.join(root, "txn_events_odd")
    marker = _os.path.join(root, "_TXN_DEMO_OK")
    if not _os.path.exists(marker):
        ev = data.load(
            spark, sf, "events",
            columns=["event_id", "user_id", "event_type"],
        )
        even = ev.filter(F.col("user_id") % 2 == 0)
        odd = ev.filter(F.col("user_id") % 2 == 1)
        seed = F.col("event_id") % 3 != 0
        even.filter(seed).write.format("olive").mode("append").save(a)
        odd.filter(seed).write.format("olive").mode("append").save(b)
        _txn.multi_table_append(
            spark,
            [(a, even.filter(~seed)), (b, odd.filter(~seed))],
        )
        with open(marker, "w") as f:
            f.write("ok")
    na = (
        spark.read.format("olive").load(a)
        .groupBy("event_type").agg(F.count("*").alias("n_even"))
    )
    nb = (
        spark.read.format("olive").load(b)
        .groupBy("event_type").agg(F.count("*").alias("n_odd"))
    )
    return na.join(nb, "event_type", "full").select(
        "event_type",
        F.coalesce("n_even", F.lit(0)).alias("n_even"),
        F.coalesce("n_odd", F.lit(0)).alias("n_odd"),
    )


SQL_MULTI_TABLE_TXN = (
    "SELECT event_type, "
    "  COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_even, "
    "  COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n_odd "
    "FROM events GROUP BY event_type"
)


def scan_txn_group_cut(spark: SparkSession, sf: str) -> DataFrame:
    """Table-group root pointer (ops/txn.scan_txn_group — r12 verdict
    task #2): the fixture leaves a transaction CRASHED between its two
    publishes (table A holds the new rows live, table B does not), so
    live scans are torn — but group reads resolve versions through the
    coordinator's atomically-swapped ``_olive_txn/_root.json`` and
    must serve the ALL-PRE cut: both tables exactly as of the last
    COMPLETED transaction.  The oracle recomputes that pre-state from
    the base events table (event_id % 3 IN (1, 2)); a group read that
    leaked the torn live state (A's extra third) hash-mismatches."""
    import os as _os

    from olive_spark.datasource import register_olive
    from olive_spark.ops import txn as _txn

    register_olive(spark)
    root = data.ensure_olive(sf)
    a = _os.path.join(root, "txn_cut_even")
    b = _os.path.join(root, "txn_cut_odd")
    marker = _os.path.join(root, "_TXN_CUT_OK")
    if not _os.path.exists(marker):
        ev = data.load(
            spark, sf, "events",
            columns=["event_id", "user_id", "event_type"],
        )
        even = ev.filter(F.col("user_id") % 2 == 0)
        odd = ev.filter(F.col("user_id") % 2 == 1)
        m3 = F.col("event_id") % 3
        # plain seed, then one COMPLETED txn (establishes the root)
        even.filter(m3 == 1).write.format("olive").mode("append").save(a)
        odd.filter(m3 == 1).write.format("olive").mode("append").save(b)
        _txn.multi_table_append(
            spark, [(a, even.filter(m3 == 2)), (b, odd.filter(m3 == 2))]
        )

        class _Torn(RuntimeError):
            pass

        def _die():
            raise _Torn()

        # second txn dies between A's publish and B's — the torn state
        # this query exists to mask
        _txn._CRASH_HOOKS["mid_publish"] = _die
        try:
            _txn.multi_table_append(
                spark, [(a, even.filter(m3 == 0)), (b, odd.filter(m3 == 0))]
            )
        except _Torn:
            pass
        finally:
            _txn._CRASH_HOOKS.clear()
        with open(marker, "w") as f:
            f.write("ok")
    na = (
        _txn.scan_txn_group(spark, a, a)
        .groupBy("event_type").agg(F.count("*").alias("n_even"))
    )
    nb = (
        _txn.scan_txn_group(spark, a, b)
        .groupBy("event_type").agg(F.count("*").alias("n_odd"))
    )
    return na.join(nb, "event_type", "full").select(
        "event_type",
        F.coalesce("n_even", F.lit(0)).alias("n_even"),
        F.coalesce("n_odd", F.lit(0)).alias("n_odd"),
    )


SQL_TXN_GROUP_CUT = (
    "SELECT event_type, "
    "  COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_even, "
    "  COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n_odd "
    "FROM events WHERE event_id % 3 IN (1, 2) GROUP BY event_type"
)


def scan_txn_mutation_cut(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-table transactional MUTATIONS (ops/txn.multi_table_txn —
    r13, VERDICT r12 task #2): slices can be MERGE/DELETE, not just
    appends.  The fixture runs one COMPLETED mutation txn (a DELETE on
    each table — establishes the group root at the post-delete cut),
    then a second mutation txn (MERGE into A + DELETE on B) that
    CRASHES between the two publishes — live state is torn (A carries
    the merge, B kept its rows), but group reads resolve through the
    root pointer and must serve BOTH tables exactly as of the completed
    transaction.  The oracle recomputes that cut from the base events
    table; a group read that leaked the torn merge or missed the
    committed delete's DVs hash-mismatches."""
    import os as _os

    from olive_spark.datasource import register_olive
    from olive_spark.ops import txn as _txn

    register_olive(spark)
    root = data.ensure_olive(sf)
    a = _os.path.join(root, "txn_mut_even")
    b = _os.path.join(root, "txn_mut_odd")
    marker = _os.path.join(root, "_TXN_MUT_OK")
    if not _os.path.exists(marker):
        ev = data.load(
            spark, sf, "events",
            columns=["event_id", "user_id", "event_type"],
        )
        even = ev.filter(F.col("user_id") % 2 == 0)
        odd = ev.filter(F.col("user_id") % 2 == 1)
        even.write.format("olive").mode("append").save(a)
        odd.write.format("olive").mode("append").save(b)
        # txn 1 COMPLETES: a DELETE slice on each table — the root now
        # points at the post-delete cut (merge-on-read DVs, one tagged
        # entry per table)
        _txn.multi_table_txn(spark, [
            {"path": a, "op": "delete", "condition": "event_id % 5 = 0"},
            {"path": b, "op": "delete", "condition": "event_id % 5 = 1"},
        ])

        class _Torn(RuntimeError):
            pass

        def _die():
            raise _Torn()

        # txn 2 dies between A's publish and B's: A's live state now
        # carries the merge, B's delete never lands — the torn state
        # the group cut must mask
        src = (
            even.filter(F.col("event_id") % 7 == 0)
            .withColumn("event_type", F.lit("merged"))
        )
        _txn._CRASH_HOOKS["mid_publish"] = _die
        try:
            _txn.multi_table_txn(spark, [
                {"path": a, "op": "merge", "df": src,
                 "keys": ["event_id"]},
                {"path": b, "op": "delete",
                 "condition": "event_id % 7 = 0"},
            ])
        except _Torn:
            pass
        finally:
            _txn._CRASH_HOOKS.clear()
        with open(marker, "w") as f:
            f.write("ok")
    na = (
        _txn.scan_txn_group(spark, a, a)
        .groupBy("event_type").agg(F.count("*").alias("n_even"))
    )
    nb = (
        _txn.scan_txn_group(spark, a, b)
        .groupBy("event_type").agg(F.count("*").alias("n_odd"))
    )
    return na.join(nb, "event_type", "full").select(
        "event_type",
        F.coalesce("n_even", F.lit(0)).alias("n_even"),
        F.coalesce("n_odd", F.lit(0)).alias("n_odd"),
    )


SQL_TXN_MUTATION_CUT = (
    # the completed cut: A = even users minus event_id%5=0,
    # B = odd users minus event_id%5=1; the crashed txn's merge and
    # delete must be invisible to the group read
    "SELECT event_type, "
    "  COUNT(CASE WHEN user_id % 2 = 0 AND event_id % 5 <> 0 "
    "        THEN 1 END) AS n_even, "
    "  COUNT(CASE WHEN user_id % 2 = 1 AND event_id % 5 <> 1 "
    "        THEN 1 END) AS n_odd "
    "FROM events GROUP BY event_type "
    "HAVING n_even > 0 OR n_odd > 0"
)


def _ensure_wap_events(spark, sf: str) -> str:
    """Build the wap_events demo table once per cache: seed 3/4 of
    events as a plain append, stage the rest on a branch, audit,
    publish — leaving exactly [append, branch-publish] in the log."""
    import os as _os

    from olive_spark.datasource import register_olive
    from olive_spark.ops import branch as _branch

    register_olive(spark)
    root = data.ensure_olive(sf)
    # v2: the demo table is rebuilt when its construction recipe gains
    # observable state (v2 = op-provenance stamps in the log) — a new
    # dir name, because appending into a pre-provenance cache dir would
    # duplicate rows and serve a stale history
    t = _os.path.join(root, "wap_events_v2")
    marker = _os.path.join(root, "_WAP_DEMO_OK_V2")
    if not _os.path.exists(marker):
        ev = data.load(
            spark, sf, "events",
            columns=["event_id", "event_type", "value"],
        )
        seed = ev.filter(F.col("event_id") % 4 != 0)
        rest = ev.filter(F.col("event_id") % 4 == 0)
        seed.write.format("olive").mode("append").save(t)
        _branch.create_branch(t, "ingest")
        _branch.append_to_branch(spark, rest, t, "ingest")
        n_live = spark.read.format("olive").load(t).count()
        n_seed = seed.count()
        if n_live != n_seed:  # isolation is part of the tested contract
            raise RuntimeError(
                f"branch rows leaked into the live scan: {n_live} != "
                f"{n_seed}"
            )
        _branch.publish_branch(
            spark, t, "ingest",
            expect={"has_type": "event_type IS NOT NULL"},
        )
        with open(marker, "w") as f:
            f.write("ok")
    return t


def scan_snapshot_history(spark: SparkSession, sf: str) -> DataFrame:
    """Commit provenance (ops/maintenance.snapshot_history — the
    DESCRIBE HISTORY surface, r11): every verb stamps its op name and
    slim params into its snapshot entry, so the wap_events table's
    history is exactly [append, branch-publish(ingest)] — heuristics
    that guessed kinds from entry shape, a lost op stamp, or a
    double-published branch all hash-mismatch against the literal
    oracle."""
    from olive_spark.ops.maintenance import snapshot_history

    t = _ensure_wap_events(spark, sf)
    hist = snapshot_history(t)
    rows = [
        (
            int(h["version"]),
            str(h["kind"]),
            (h.get("params") or {}).get("branch"),
        )
        for h in hist
    ]
    return spark.createDataFrame(
        rows, "version int, kind string, branch string"
    )


SQL_SNAPSHOT_HISTORY = (
    "SELECT 1 AS version, 'append' AS kind, NULL AS branch "
    "UNION ALL "
    "SELECT 2 AS version, 'branch-publish' AS kind, 'ingest' AS branch"
)


def scan_branch_wap(spark: SparkSession, sf: str) -> DataFrame:
    """Write-audit-publish branch (ops/branch.py — Iceberg WAP): the
    wap_events table is seeded with event_id % 4 != 0; the remaining
    quarter is staged on an isolated branch (invisible to live scans —
    pinned by counting live rows BEFORE publish), audited with
    expectations, then fast-forward published as one tagged snapshot
    commit.  The final per-type aggregate must equal a straight
    recomputation from the base events table, so a branch that leaked
    staged rows early, dropped a file at publish, or double-published
    hash-mismatches."""
    t = _ensure_wap_events(spark, sf)
    return (
        spark.read.format("olive").load(t)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(D)).cast(D).alias("sum_value"),
        )
    )


SQL_BRANCH_WAP = (
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value "
    "FROM events GROUP BY event_type"
)


def scan_branch_mutation(spark: SparkSession, sf: str) -> DataFrame:
    """Branch MUTATIONS (ops/branch.delete_on_branch — WAP phase 2,
    r12 verdict task #3): the fixture seeds event_id % 4 != 0 live,
    stages the remaining quarter on a branch, then deletes
    event_id % 5 == 0 ON THE BRANCH — the delete hits BOTH base files
    (branch-scoped DVs over live data, invisible to live scans) and
    branch-staged files — and publishes: one commit carrying the
    appends AND the folded deletion vectors.  The oracle replays the
    whole lifecycle as plain SQL (events minus the %5 rows), so a
    branch DV that leaked into live scans early, failed to re-key to a
    published file, or dropped at publish hash-mismatches."""
    import os as _os

    from olive_spark.datasource import register_olive
    from olive_spark.ops import branch as _branch

    register_olive(spark)
    root = data.ensure_olive(sf)
    t = _os.path.join(root, "branch_mut_events")
    marker = _os.path.join(root, "_BRANCH_MUT_OK")
    if not _os.path.exists(marker):
        ev = data.load(
            spark, sf, "events",
            columns=["event_id", "event_type", "value"],
        )
        ev.filter(F.col("event_id") % 4 != 0).write.format("olive") \
            .mode("append").save(t)
        _branch.create_branch(t, "fix")
        _branch.append_to_branch(
            spark, ev.filter(F.col("event_id") % 4 == 0), t, "fix"
        )
        _branch.delete_on_branch(spark, t, "fix", "event_id % 5 = 0")
        _branch.publish_branch(spark, t, "fix")
        with open(marker, "w") as f:
            f.write("ok")
    return (
        spark.read.format("olive").load(t)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(D)).cast(D).alias("sum_value"),
        )
    )


SQL_BRANCH_MUTATION = (
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value "
    "FROM events WHERE event_id % 5 <> 0 GROUP BY event_type"
)


def scan_branch_rebase(spark: SparkSession, sf: str) -> DataFrame:
    """Branch REBASE (ops/branch.rebase_branch — r13, VERDICT r12 task
    #4): the audit-fix-publish loop on a HOT table.  The fixture seeds
    all events, stages a delete on a branch (event_id % 9 = 0), then a
    CONCURRENT compact rewrites every base file the branch DVs target
    AND a concurrent live delete removes part of the branch's own
    target set (event_id % 9 = 0 AND user_id % 10 = 3 — rows the
    rebase must classify already-gone, not double-count).  The default
    publish refuses (pinned in tests); ``publish_branch(rebase=True)``
    re-keys the DVs through the rewrite's content bridge and lands the
    delete on the new row grid.  The oracle replays the end state as
    plain SQL: events minus the %9 set — a rebase that re-pointed a DV
    at the wrong duplicate, lost a row, or resurrected an
    already-deleted one hash-mismatches."""
    import os as _os

    from olive_spark.datasource import register_olive
    from olive_spark.ops import branch as _branch
    from olive_spark.ops.maintenance import compact, delete_where

    register_olive(spark)
    root = data.ensure_olive(sf)
    t = _os.path.join(root, "branch_rebase_events")
    marker = _os.path.join(root, "_BRANCH_REBASE_OK")
    if not _os.path.exists(marker):
        ev = data.load(
            spark, sf, "events",
            columns=["event_id", "user_id", "event_type"],
        )
        ev.filter(F.col("event_id") % 2 == 0).write.format("olive") \
            .mode("append").save(t)
        ev.filter(F.col("event_id") % 2 == 1).write.format("olive") \
            .mode("append").save(t)
        _branch.create_branch(t, "fix")
        _branch.delete_on_branch(spark, t, "fix", "event_id % 9 = 0")
        # concurrent rewrite + concurrent overlapping live delete
        compact(spark, t, retain_history=True)
        delete_where(
            spark, t, "event_id % 9 = 0 AND user_id % 10 = 3",
            mode="rewrite", retain_history=True,
        )
        _branch.publish_branch(spark, t, "fix", rebase=True)
        with open(marker, "w") as f:
            f.write("ok")
    return (
        spark.read.format("olive").load(t)
        .groupBy("event_type").agg(F.count("*").alias("n"))
    )


SQL_BRANCH_REBASE = (
    "SELECT event_type, COUNT(*) AS n FROM events "
    "WHERE event_id % 9 <> 0 GROUP BY event_type"
)


def reshape_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot/melt: wide per-part numeric columns to long (attr, val)
    rows — the inverse of agg_pivot_status."""
    df = data.load(spark, sf, "part", columns=["p_partkey", "p_size", "p_retailprice"])
    return df.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retail"),
    ).unpivot("p_partkey", ["size", "retail"], "attr", "val")


SQL_UNPIVOT = (
    "SELECT p_partkey, attr, val FROM ("
    "SELECT p_partkey, CAST(p_size AS DOUBLE) AS size, "
    "CAST(p_retailprice AS DOUBLE) AS retail FROM part) "
    "UNPIVOT (val FOR attr IN (size, retail))"
)


def agg_conditional_bools(spark: SparkSession, sf: str) -> DataFrame:
    """count_if / bool_and / bool_or / any_value-free conditional
    aggregate surface per order priority."""
    df = data.load(spark, sf, "orders", columns=["o_orderpriority", "o_totalprice", "o_orderstatus"])
    return df.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 10000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_pos"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_final"),
        F.count("*").alias("n"),
    )


SQL_AGG_CONDITIONAL = (
    "SELECT o_orderpriority, "
    "CAST(count_if(o_totalprice > 10000) AS BIGINT) AS n_big, "
    "bool_and(o_totalprice > 0) AS all_pos, "
    "bool_or(o_orderstatus = 'F') AS any_final, "
    "COUNT(*) AS n FROM orders GROUP BY o_orderpriority"
)


def join_lateral_topn(spark: SparkSession, sf: str) -> DataFrame:
    """LATERAL correlated subquery: per region, the top-2 nations by
    customer count — the per-group-top-n topology where the inner query
    references the outer row and carries its own ORDER BY/LIMIT."""
    data.load(spark, sf, "region", columns=["r_regionkey", "r_name"]) \
        .createOrReplaceTempView("region")
    data.load(spark, sf, "nation", columns=["n_nationkey", "n_name", "n_regionkey"]) \
        .createOrReplaceTempView("nation")
    data.load(spark, sf, "customer", columns=["c_custkey", "c_nationkey"]) \
        .createOrReplaceTempView("customer")
    return spark.sql(
        "SELECT r_name, t.n_name, t.n_cust FROM region, "
        "LATERAL (SELECT n_name, COUNT(c_custkey) AS n_cust "
        "FROM nation JOIN customer ON c_nationkey = n_nationkey "
        "WHERE n_regionkey = r_regionkey "
        "GROUP BY n_name ORDER BY n_cust DESC, n_name LIMIT 2) t"
    )


SQL_JOIN_LATERAL = (
    "SELECT r_name, t.n_name, t.n_cust FROM region, "
    "LATERAL (SELECT n_name, COUNT(c_custkey) AS n_cust "
    "FROM nation JOIN customer ON c_nationkey = n_nationkey "
    "WHERE n_regionkey = r_regionkey "
    "GROUP BY n_name ORDER BY n_cust DESC, n_name LIMIT 2) t"
)


def events_window_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Window funnel (view -> click -> purchase, 7-day window anchored at
    each user's first view): depth histogram.  Spark side is the
    single-shuffle sort_array + F.aggregate walk
    (olive_spark.ops.timeseries.funnel_depths); the oracle is the chained
    min-aggregate formulation -- equivalent because (user_id, ts) pairs
    are unique in the testdata (verified at sf0.01/sf0.1)."""
    from olive_spark.ops.timeseries import funnel_depths

    events = data.load(spark, sf, "events", columns=["user_id", "ts", "event_type"])
    depths = funnel_depths(
        events,
        stages=[("view", "viewed"), ("click", "clicked"), ("purchase", "purchased")],
    )
    return (
        depths.filter(F.col("depth") >= 1)
        .groupBy("depth")
        .agg(F.count("*").alias("n_users"))
    )


SQL_WINDOW_FUNNEL = (
    "WITH s1 AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events "
    "WHERE event_type = 'view' GROUP BY user_id), "
    "s2 AS (SELECT e.user_id, MIN(epoch_us(ts)) AS t2 FROM events e "
    "JOIN s1 USING (user_id) WHERE event_type = 'click' "
    "AND epoch_us(ts) >= t1 AND epoch_us(ts) <= t1 + 604800000000 "
    "GROUP BY e.user_id), "
    "s3 AS (SELECT e.user_id, MIN(epoch_us(ts)) AS t3 FROM events e "
    "JOIN s2 USING (user_id) JOIN s1 USING (user_id) "
    "WHERE event_type = 'purchase' "
    "AND epoch_us(ts) >= t2 AND epoch_us(ts) <= t1 + 604800000000 "
    "GROUP BY e.user_id) "
    "SELECT depth, COUNT(*) AS n_users FROM ("
    "SELECT s1.user_id, CASE WHEN t3 IS NOT NULL THEN 3 "
    "WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS depth "
    "FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)) "
    "GROUP BY depth"
)


def events_window_funnel_chained(spark: SparkSession, sf: str) -> DataFrame:
    """The same funnel through the UNBOUNDED-KEY scale path (r9 —
    ops/timeseries.funnel_depths_chained: chained min-aggregates, no
    per-key gathered arrays, bounded aggregation state): depths are
    integers, so the chained plan must hash-match the identical oracle
    the array walk matches — driver-gated proof the two formulations
    agree on real data, not just the randomized pytest fixture."""
    from olive_spark.ops.timeseries import funnel_depths_chained

    events = data.load(
        spark, sf, "events", columns=["user_id", "ts", "event_type"]
    )
    depths = funnel_depths_chained(
        events,
        stages=[("view", "viewed"), ("click", "clicked"),
                ("purchase", "purchased")],
    )
    return (
        depths.filter(F.col("depth") >= 1)
        .groupBy("depth")
        .agg(F.count("*").alias("n_users"))
    )


def events_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention over the events table: users grouped by
    first-activity week, counted when active k weeks later (k <= 4).
    Spark side shuffles only (user_id, week) pairs
    (olive_spark.ops.timeseries.cohort_retention)."""
    from olive_spark.ops.timeseries import cohort_retention

    events = data.load(spark, sf, "events", columns=["user_id", "ts"])
    return cohort_retention(events)


SQL_COHORT_RETENTION = (
    "WITH acts AS (SELECT DISTINCT user_id, "
    "epoch_us(ts) - epoch_us(ts) % 604800000000 AS bucket FROM events), "
    "cohorts AS (SELECT user_id, MIN(bucket) AS cohort FROM acts GROUP BY user_id) "
    "SELECT cohort, CAST((bucket - cohort) // 604800000000 AS INT) AS offset, "
    "COUNT(DISTINCT a.user_id) AS n_users "
    "FROM acts a JOIN cohorts USING (user_id) "
    "WHERE (bucket - cohort) // 604800000000 <= 4 "
    "GROUP BY 1, 2"
)


def _build_once(spark: SparkSession, sf: str, name: str, marker_name: str,
                build_fn) -> str:
    """Build-once protocol shared by every derived-table fixture in
    this module: probe the completion marker, and if a PRIOR build
    crashed before writing it, rebuild from scratch — re-running a
    builder against a half-built dir would append a second full base
    copy and bake duplicates into the cached table.  One copy of the
    protocol; the builders supply only their table construction."""
    import os as _os

    from olive_spark.datasource import register_olive

    register_olive(spark)
    out = _os.path.join(data.ensure_olive(sf), name)
    marker = _os.path.join(out, marker_name)
    if _os.path.exists(marker):
        return out
    if _os.path.exists(out):
        import shutil as _shutil

        _shutil.rmtree(out)
    build_fn(out)
    with open(marker, "w") as f:
        f.write("ok")
    return out


def _ensure_orders_merged(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a snapshot-logged ``orders_merged`` table
    and run a deterministic MERGE + DELETE against it:

      v1  base: orders (o_orderkey, o_custkey, o_orderstatus,
          o_totalprice) appended through the DSv2 writer
      v2  merge_upsert keyed on o_orderkey — customers with
          o_custkey % 10 = 0 get o_totalprice + 1000 (updates), and the
          % 10 = 5 orders are re-inserted at o_orderkey + 900_000_000
          with doubled price (inserts) — ONE copy-on-write version
      v3  delete_where o_orderstatus = 'P'

    Every transform is a pure function of the base table, so the DuckDB
    oracle reconstructs the exact post-merge state from the parquet
    ``orders`` view in plain SQL; retain_history keeps v1 readable for
    the time-travel parity query.  The reference format has no
    update/delete layer (batch-only, /root/reference/src/root.zig:9-16);
    MERGE/DELETE are this engine's lakehouse extension
    (olive_spark/ops/maintenance.py)."""
    from olive_spark.ops.maintenance import delete_where, merge_upsert

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.write.format("olive").option("table", "orders_merged") \
            .mode("append").save(out)
        updates = base.filter(F.col("o_custkey") % 10 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
        inserts = base.filter(F.col("o_custkey") % 10 == 5).select(
            (F.col("o_orderkey") + F.lit(900_000_000)).alias("o_orderkey"),
            "o_custkey", "o_orderstatus",
            (F.col("o_totalprice") * F.lit(2.0)).alias("o_totalprice"),
        )
        merge_upsert(spark, out, updates.unionByName(inserts),
                     key_cols=["o_orderkey"], table="orders_merged")
        delete_where(spark, out, "o_orderstatus = 'P'",
                     table="orders_merged")

    return _build_once(spark, sf, "orders_merged", "_MERGE_OK", build)


def _ensure_orders_merged_part(spark: SparkSession, sf: str) -> str:
    """Like _ensure_orders_merged, but over a HIVE-PARTITIONED layout
    (partitionBy o_orderstatus): v1 base partitioned write, v2
    merge_upsert (orderkey % 5 == 0 get o_totalprice * 2 — exact in
    doubles; a .1 product would hit the engines' round-half-tie
    disagreement at the decimal cast), v3
    delete_where ('F' orders with orderkey % 7 == 3).  Rewrites must
    preserve the col=value layout (ops/maintenance._rewrite_and_swap
    partition_by; pytest asserts the layout, this query's oracle
    asserts the content)."""
    from olive_spark.ops.maintenance import delete_where, merge_upsert

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.repartition("o_orderstatus").write.format("olive") \
            .option("table", "orders_merged_part") \
            .option("partitionBy", "o_orderstatus").mode("append").save(out)
        updates = base.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * F.lit(2.0)
        )
        merge_upsert(spark, out, updates, key_cols=["o_orderkey"],
                     table="orders_merged_part")
        delete_where(spark, out,
                     "o_orderstatus = 'F' AND o_orderkey % 7 = 3",
                     table="orders_merged_part")

    return _build_once(spark, sf, "orders_merged_part", "_MERGE_OK", build)


def scan_merge_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """Post-MERGE/DELETE parity on a hive-partitioned table: the layout
    survives both copy-on-write rewrites (pytest contract) and the
    content matches the oracle's reconstruction from the base orders
    view — a rewrite that dropped a partition directory, double-applied
    the update inside one, or leaked deleted rows hash-mismatches."""
    path = _ensure_orders_merged_part(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "orders_merged_part").load(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


SQL_MERGE_PARTITIONED = (
    "WITH merged AS ("
    "SELECT o_orderkey, o_orderstatus, "
    "CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 "
    "ELSE o_totalprice END AS o_totalprice FROM orders) "
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM merged WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 3) "
    "GROUP BY o_orderstatus"
)


def _ensure_orders_cdc_tomb(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a CDC table exercising sequenced
    tombstones: base = each customer's latest EVEN-orderkey order; one
    merge_upsert(latest_by=o_orderkey, delete_col) applies every
    ODD-orderkey order as a change, with customers ≡0 (mod 5) flagged
    as tombstones.  Per customer the max-orderkey change wins — an
    upsert replaces, a winning tombstone deletes — all reconstructable
    in plain SQL over the base orders view."""
    from olive_spark.ops.maintenance import merge_upsert

    def build(out: str) -> None:
        from pyspark.sql.window import Window as W

        cols = ["o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice"]
        orders = data.load(spark, sf, "orders", columns=cols)
        base = (
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .withColumn(
                "__rn",
                F.row_number().over(
                    W.partitionBy("o_custkey")
                    .orderBy(F.col("o_orderkey").desc())
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        base.write.format("olive").option("table", "data") \
            .mode("append").save(out)
        batch = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "_deleted", F.col("o_custkey") % 5 == 0
        )
        merge_upsert(spark, out, batch, ["o_custkey"],
                     latest_by="o_orderkey", delete_col="_deleted")

    return _build_once(spark, sf, "orders_cdc_tomb", "_CDC_OK", build)


def scan_merge_cdc_tombstones(spark: SparkSession, sf: str) -> DataFrame:
    """Sequenced-tombstone CDC parity (merge_upsert latest_by +
    delete_col): per customer, the max-orderkey change wins — upserts
    replace, winning tombstones delete the key.  The oracle replays
    the same resolution as one window over the base orders view, so a
    tombstone that failed to delete, deleted the wrong row, or leaked
    into the table as data hash-mismatches."""
    path = _ensure_orders_cdc_tomb(spark, sf)
    df = spark.read.format("olive").load(path)
    return df.select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast(D).alias("price"),
    )


SQL_MERGE_CDC_TOMB = (
    "WITH base AS ("
    "SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, FALSE AS del, "
    "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn "
    "FROM orders WHERE o_orderkey % 2 = 0), "
    "changes AS ("
    "SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, "
    "o_custkey % 5 = 0 AS del FROM orders WHERE o_orderkey % 2 = 1), "
    "allc AS ("
    "SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, del "
    "FROM base WHERE rn = 1 "
    "UNION ALL SELECT * FROM changes), "
    "w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey "
    "ORDER BY o_orderkey DESC) AS rn FROM allc) "
    "SELECT o_custkey, o_orderkey, o_orderstatus, "
    "CAST(o_totalprice AS DECIMAL(18,2)) AS price "
    "FROM w WHERE rn = 1 AND NOT del"
)


def scan_after_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Post-MERGE state parity: aggregate the orders_merged table after
    upsert (v2) + delete (v3) — the oracle recomputes the same state
    from the base orders view with anti-join + union + filter SQL, so
    a merge that lost a survivor row, double-applied an update, leaked
    a deleted row, or dropped an untouched file hash-mismatches."""
    path = _ensure_orders_merged(spark, sf)
    df = spark.read.format("olive").option("table", "orders_merged").load(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum(F.col("o_orderkey")).alias("sum_keys"),
    )


SQL_AFTER_MERGE = (
    "WITH src AS ("
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice "
    "FROM orders WHERE o_custkey % 10 = 0 "
    "UNION ALL "
    "SELECT o_orderkey + 900000000, o_custkey, o_orderstatus, o_totalprice * 2 "
    "FROM orders WHERE o_custkey % 10 = 5), "
    "merged AS ("
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
    "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src) "
    "UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice FROM src) "
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM merged WHERE NOT (o_orderstatus = 'P') "
    "GROUP BY o_orderstatus"
)


def _ensure_orders_merged_cond(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising CONDITIONAL merge plus
    ADD-COLUMN schema evolution in one commit:

      v1  base: orders (o_orderkey, o_custkey, o_totalprice)
      v2  merge_upsert(update_condition="s.o_totalprice > t.o_totalprice",
          evolve_schema=True) with a source of
            updates: every %3==0 order, price shifted +500 for even
                     custkeys (condition HOLDS -> replace) and -500 for
                     odd ones (condition fails -> target KEPT, source
                     row dropped), plus a NEW o_priority column
            inserts: %3==1, custkey%10==7 orders re-keyed +900M
                     (unmatched -> insert regardless of condition)

    Post-state is a pure function of the base orders view, so the
    DuckDB oracle replays the WHEN MATCHED AND leg as a LEFT JOIN CASE;
    kept/untouched rows must read the evolved o_priority column as NULL
    (schema sidecar + read-time null-fill, format/table_schema.py)."""
    from olive_spark.ops.maintenance import merge_upsert

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.write.format("olive").option("table", "orders_merged_cond") \
            .mode("append").save(out)
        updates = base.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") + F.when(
                F.col("o_custkey") % 2 == 0, F.lit(500.0)
            ).otherwise(F.lit(-500.0))).alias("o_totalprice"),
            (F.col("o_orderkey") % 5).cast("int").alias("o_priority"),
        )
        inserts = base.filter(
            (F.col("o_orderkey") % 3 == 1) & (F.col("o_custkey") % 10 == 7)
        ).select(
            (F.col("o_orderkey") + F.lit(900_000_000)).alias("o_orderkey"),
            "o_custkey", "o_totalprice",
            F.lit(-1).cast("int").alias("o_priority"),
        )
        merge_upsert(
            spark, out, updates.unionByName(inserts),
            key_cols=["o_orderkey"], table="orders_merged_cond",
            update_condition="s.o_totalprice > t.o_totalprice",
            evolve_schema=True,
        )

    return _build_once(spark, sf, "orders_merged_cond", "_MERGE_OK", build)


def scan_merge_conditional_evolve(spark: SparkSession, sf: str) -> DataFrame:
    """WHEN-MATCHED-AND conditional merge + add-column evolution parity:
    group the post-merge table by the EVOLVED column — updates carry
    their o_priority, kept/untouched rows read it as NULL through the
    schema sidecar, inserts carry -1.  A merge that replaced a
    condition-failing row, inserted a matched-but-kept source row, or a
    sidecar/null-fill bug that misread the evolved column all
    hash-mismatch against the oracle's LEFT-JOIN-CASE replay."""
    path = _ensure_orders_merged_cond(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "orders_merged_cond").load(path)
    return df.groupBy("o_priority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


SQL_MERGE_COND_EVOLVE = (
    "WITH upd AS ("
    "SELECT o_orderkey, "
    "o_totalprice + CASE WHEN o_custkey % 2 = 0 THEN 500.0 ELSE -500.0 END "
    "AS o_totalprice, CAST(o_orderkey % 5 AS INT) AS o_priority "
    "FROM orders WHERE o_orderkey % 3 = 0), "
    "merged AS ("
    "SELECT t.o_orderkey, "
    "CASE WHEN u.o_totalprice > t.o_totalprice THEN u.o_totalprice "
    "ELSE t.o_totalprice END AS o_totalprice, "
    "CASE WHEN u.o_totalprice > t.o_totalprice THEN u.o_priority "
    "ELSE NULL END AS o_priority "
    "FROM orders t LEFT JOIN upd u USING (o_orderkey) "
    "UNION ALL "
    "SELECT o_orderkey + 900000000, o_totalprice, CAST(-1 AS INT) "
    "FROM orders WHERE o_orderkey % 3 = 1 AND o_custkey % 10 = 7) "
    "SELECT o_priority, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM merged GROUP BY o_priority"
)


def scan_merge_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-MERGE snapshot parity: after the copy-on-write merge (v2)
    and delete (v3), ``.option("snapshot", "1")`` must reproduce the
    ORIGINAL base table exactly — rewritten originals are served from
    _olive_history (retain_history), so a merge that vacuumed or
    mislabeled a retired file breaks this hash."""
    path = _ensure_orders_merged(spark, sf)
    df = (
        spark.read.format("olive").option("table", "orders_merged")
        .option("snapshot", "1").load(path)
    )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum(F.col("o_orderkey")).alias("sum_keys"),
    )


SQL_MERGE_TIME_TRAVEL = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM orders GROUP BY o_orderstatus"
)


def _ensure_orders_merged_del(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising the WHEN MATCHED AND
    <cond> THEN DELETE leg with the unconditional-update fall-through:
    base = orders (o_orderkey, o_custkey, o_totalprice); one merge
    whose source is every %3==0 order with price shifted +500 for even
    custkeys and −500 for odd ones, with
    ``delete_condition="s.o_totalprice < t.o_totalprice"`` — so the
    odd-custkey matches are DELETED and the even-custkey matches fall
    through to the standard replace."""
    from olive_spark.ops.maintenance import merge_upsert

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.write.format("olive").option("table", "orders_merged_del") \
            .mode("append").save(out)
        src = base.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") + F.when(
                F.col("o_custkey") % 2 == 0, F.lit(500.0)
            ).otherwise(F.lit(-500.0))).alias("o_totalprice"),
        )
        merge_upsert(
            spark, out, src, key_cols=["o_orderkey"],
            table="orders_merged_del",
            delete_condition="s.o_totalprice < t.o_totalprice",
        )

    return _build_once(spark, sf, "orders_merged_del", "_MERGE_OK", build)


def scan_merge_conditional_delete(spark: SparkSession, sf: str) -> DataFrame:
    """WHEN-MATCHED-AND-DELETE parity: odd-custkey matches must vanish,
    even-custkey matches must carry the replaced (+500) price, and
    everything unmatched must survive byte-identical — the oracle
    replays the clause order as a LEFT-JOIN CASE with a WHERE for the
    delete leg."""
    path = _ensure_orders_merged_del(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "orders_merged_del").load(path)
    return df.groupBy((F.col("o_custkey") % 10).alias("ck_mod")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


SQL_MERGE_COND_DELETE = (
    "WITH upd AS ("
    "SELECT o_orderkey, o_custkey, "
    "o_totalprice + CASE WHEN o_custkey % 2 = 0 THEN 500.0 ELSE -500.0 END "
    "AS o_totalprice FROM orders WHERE o_orderkey % 3 = 0), "
    "merged AS ("
    "SELECT t.o_orderkey, t.o_custkey, "
    "CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice "
    "ELSE t.o_totalprice END AS o_totalprice "
    "FROM orders t LEFT JOIN upd u USING (o_orderkey) "
    "WHERE u.o_orderkey IS NULL OR u.o_totalprice >= t.o_totalprice) "
    "SELECT CAST(o_custkey % 10 AS BIGINT) AS ck_mod, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM merged GROUP BY 1"
)


def _ensure_orders_matview(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) an incrementally-maintained materialized
    aggregate (ops/matview.py) over its own snapshot-logged copy of
    orders:

      v1  base src table + FULL view build (group by o_orderstatus:
          count(*), decimal sum of o_totalprice, sum of o_orderkey)
      v2  merge_upsert — the same deterministic update/insert transform
          as _ensure_orders_merged
      v3  delete_where o_orderstatus = 'P' — empties the whole 'P'
          group, so the refresh must DROP its view row, not zero it
      --  ONE delta-mode refresh folding the v1→v3 net change feed into
          the stored values; the source is never rescanned
          (tests/test_matview.py proves that mechanically by moving
          untouched source files away mid-refresh)

    Sums are decimal, so the incremental fold is exact and the final
    view must be BIT-IDENTICAL to the oracle's from-scratch aggregation
    of the reconstructed post-merge state (same oracle SQL as
    scan_after_merge_upsert — identical final state, but here the
    result comes off the maintained view, not a table scan).  The
    reference format is batch-only (/root/reference/src/root.zig:9-16);
    continuous aggregates are this engine's lakehouse extension."""
    from olive_spark.ops.maintenance import delete_where, merge_upsert
    from olive_spark.ops.matview import refresh_matview

    def build(out: str) -> None:
        import os as _os
        import shutil as _shutil

        view = out + "_view"
        if _os.path.exists(view):
            _shutil.rmtree(view)
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.write.format("olive").option("table", "mv_src") \
            .mode("append").save(out)
        aggs = {
            "n": "count(*)",
            "sum_price": "sum(CAST(o_totalprice AS DECIMAL(18,2)))",
            "sum_keys": "sum(o_orderkey)",
        }
        refresh_matview(spark, out, view, group_cols=["o_orderstatus"],
                        aggs=aggs, src_table="mv_src",
                        mv_table="orders_mv")
        updates = base.filter(F.col("o_custkey") % 10 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
        inserts = base.filter(F.col("o_custkey") % 10 == 5).select(
            (F.col("o_orderkey") + F.lit(900_000_000)).alias("o_orderkey"),
            "o_custkey", "o_orderstatus",
            (F.col("o_totalprice") * F.lit(2.0)).alias("o_totalprice"),
        )
        merge_upsert(spark, out, updates.unionByName(inserts),
                     key_cols=["o_orderkey"], table="mv_src")
        delete_where(spark, out, "o_orderstatus = 'P'", table="mv_src")
        st = refresh_matview(spark, out, view,
                             group_cols=["o_orderstatus"], aggs=aggs,
                             src_table="mv_src", mv_table="orders_mv")
        assert st["mode"] == "delta", st

    return _build_once(spark, sf, "orders_mv_src", "_MV_OK", build)


def scan_incremental_matview(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-materialized-view parity: read the MAINTAINED view
    (full build at v1, one delta-mode refresh folding the merge+delete
    net change feed) and compare it against the oracle's from-scratch
    aggregation of the final state.  A fold that double-applied a
    change, missed a rewritten file, kept the emptied 'P' group, or
    drifted the decimal sum by a cent hash-mismatches."""
    path = _ensure_orders_matview(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "orders_mv").load(path + "_view")
    return df.select(
        "o_orderstatus", "n",
        F.col("sum_price").cast(D).alias("sum_price"), "sum_keys",
    )


# identical final state as scan_after_merge_upsert, reached through the
# maintained view instead of a table scan
SQL_INCREMENTAL_MATVIEW = SQL_AFTER_MERGE


def _ensure_orders_gated(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) an expectations-gated ingest of orders
    (ops/expectations.py — the DLT-style CONSTRAINT … ON VIOLATION
    surface): one pass evaluates three named rules and routes rows —

      price_sane    o_totalprice < 400000      ON VIOLATION quarantine
      status_known  o_orderstatus <> 'P'       ON VIOLATION drop
      key_warn      o_orderkey % 10 <> 7       warn (counted, passes)

    Disposition is the strictest failed action, so a huge 'P' order
    quarantines (with both rule names in _failed_rules) rather than
    dropping.  Survivors land in <dir>/, quarantined rows + labels in
    <dir>/_olive_quarantine/ — both snapshot-logged."""
    from olive_spark.ops.expectations import write_with_expectations

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        write_with_expectations(
            spark, base, out,
            rules={
                "price_sane": ("o_totalprice < 400000", "quarantine"),
                "status_known": ("o_orderstatus <> 'P'", "drop"),
                "key_warn": ("o_orderkey % 10 <> 7", "warn"),
            },
            table="orders_gated",
        )

    return _build_once(spark, sf, "orders_gated", "_GATE_OK", build)


def scan_expectations_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Expectations-gate parity: aggregate BOTH sides of the gate (the
    landed table and the quarantine sidecar, labeled) — the oracle
    reconstructs each side from the base orders view with the
    disposition rules as plain predicates, so a gate that dropped a
    quarantine-bound row, let a 'P' order land, or mislabeled a side
    hash-mismatches.  The quarantine side also checks _failed_rules
    fan-out by summing the label-array size."""
    path = _ensure_orders_gated(spark, sf)
    main = spark.read.format("olive") \
        .option("table", "orders_gated").load(path)
    q = spark.read.format("olive").option("table", "quarantine") \
        .load(path + "/_olive_quarantine")
    m = main.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_keys"),
    ).withColumn("side", F.lit("main")).withColumn(
        "n_rule_labels", F.lit(None).cast("long")
    )
    qq = q.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_keys"),
        F.sum(F.size("_failed_rules")).alias("n_rule_labels"),
    ).withColumn("side", F.lit("quarantine"))
    return m.unionByName(qq)


SQL_EXPECTATIONS_GATE = (
    # NOT COALESCE(cond, FALSE): the gate treats a NULL expectation as
    # a FAILURE (expectations.py NULL-fails semantics) — a bare
    # NOT(cond) would silently drop NULL-failing rows from BOTH sides
    "WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
    "o_totalprice, "
    "NOT COALESCE(o_totalprice < 400000, FALSE) AS f_price, "
    "NOT COALESCE(o_orderstatus <> 'P', FALSE) AS f_status, "
    "NOT COALESCE(o_orderkey % 10 <> 7, FALSE) AS f_key FROM orders) "
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, "
    "CAST(NULL AS BIGINT) AS n_rule_labels, 'main' AS side "
    "FROM src WHERE NOT f_price AND NOT f_status "
    "GROUP BY o_orderstatus "
    "UNION ALL "
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, "
    "CAST(SUM(CAST(f_price AS INT) + CAST(f_status AS INT) "
    "+ CAST(f_key AS INT)) AS BIGINT) AS n_rule_labels, "
    "'quarantine' AS side "
    "FROM src WHERE f_price GROUP BY o_orderstatus"
)


def _ensure_orders_updated(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising predicate UPDATE
    (ops/maintenance.update_where — the UPDATE…SET…WHERE sibling of
    delete_where): base = orders; one update_where with TWO
    simultaneous SET expressions —

      SET o_totalprice = o_totalprice + 250.0,
          o_orderstatus = 'U'
      WHERE o_custkey % 13 = 5 AND o_orderstatus <> 'P'

    Copy-on-write rewrite of only the files holding a match; the state
    is a pure function of the base orders view so the oracle replays
    it as a CASE."""
    from olive_spark.ops.maintenance import update_where

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.write.format("olive").option("table", "orders_updated") \
            .mode("append").save(out)
        update_where(
            spark, out,
            {"o_totalprice": "o_totalprice + 250.0",
             "o_orderstatus": "'U'"},
            "o_custkey % 13 = 5 AND o_orderstatus <> 'P'",
            table="orders_updated",
        )

    return _build_once(spark, sf, "orders_updated", "_UPD_OK", build)


def scan_after_update_where(spark: SparkSession, sf: str) -> DataFrame:
    """Predicate-UPDATE parity: aggregate the post-update table by
    status — an update that rewrote an unmatched row, skipped a
    matched file, or evaluated the SET against already-updated values
    hash-mismatches the oracle's CASE replay."""
    path = _ensure_orders_updated(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "orders_updated").load(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


SQL_AFTER_UPDATE = (
    "WITH upd AS (SELECT o_orderkey, "
    "CASE WHEN o_custkey % 13 = 5 AND o_orderstatus <> 'P' "
    "THEN 'U' ELSE o_orderstatus END AS o_orderstatus, "
    "CASE WHEN o_custkey % 13 = 5 AND o_orderstatus <> 'P' "
    "THEN o_totalprice + 250.0 ELSE o_totalprice END AS o_totalprice "
    "FROM orders) "
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM upd GROUP BY o_orderstatus"
)


def _ensure_orders_restored(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table proving RESTORE TO VERSION
    (ops/maintenance.restore) end-to-end:

      v1  base: orders (o_orderkey, o_custkey, o_orderstatus,
          o_totalprice)
      v2  update_where: SET o_totalprice += 400 WHERE o_custkey % 7 = 2
      v3  delete_where: o_orderstatus = 'F'
      v4  RESTORE to v1 — re-activates the rewritten files from
          _olive_history, retires the v2/v3 rewrites (no data rewrite)
      v5  plain append: the %10==3 orders re-keyed +800M, price +7

    The final live state is base ∪ appended — a pure function of the
    parquet orders view, so the oracle needs no knowledge of v2-v4: if
    the restore missed a file (deleted 'F' rows stay gone), failed to
    undo the update (+400 prices linger), or left a retired file live
    (duplicate rows double every count), the hash mismatches.  The
    post-restore append proves a restored table is a fully working
    table, not a frozen snapshot."""
    from olive_spark.ops.maintenance import (
        delete_where,
        restore,
        update_where,
    )

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.write.format("olive").option("table", "orders_restored") \
            .mode("append").save(out)
        update_where(
            spark, out, {"o_totalprice": "o_totalprice + 400.0"},
            "o_custkey % 7 = 2", table="orders_restored",
        )
        delete_where(spark, out, "o_orderstatus = 'F'",
                     table="orders_restored")
        restore(out, 1, table="orders_restored")
        extra = base.filter(F.col("o_custkey") % 10 == 3).select(
            (F.col("o_orderkey") + F.lit(800_000_000)).alias("o_orderkey"),
            "o_custkey", "o_orderstatus",
            (F.col("o_totalprice") + F.lit(7.0)).alias("o_totalprice"),
        )
        extra.write.format("olive").option("table", "orders_restored") \
            .mode("append").save(out)

    return _build_once(spark, sf, "orders_restored", "_RESTORE_OK", build)


def scan_after_restore(spark: SparkSession, sf: str) -> DataFrame:
    """Post-RESTORE state parity: aggregate the orders_restored table
    after update+delete+RESTORE(v1)+append — the oracle reconstructs
    the same state from the base orders view alone (see
    _ensure_orders_restored for exactly what each failure mode would
    do to the hash)."""
    path = _ensure_orders_restored(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "orders_restored").load(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum(F.col("o_orderkey")).alias("sum_keys"),
    )


SQL_AFTER_RESTORE = (
    "WITH final AS ("
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
    "UNION ALL "
    "SELECT o_orderkey + 800000000, o_orderstatus, o_totalprice + 7.0 "
    "FROM orders WHERE o_custkey % 10 = 3) "
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM final GROUP BY o_orderstatus"
)


def _ensure_orders_dropped(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table proving DROP COLUMN end-to-end:
    v1 = orders with FOUR columns (incl. o_orderstatus); then
    drop_column("o_orderstatus") — metadata-only, old files keep the
    bytes — and a post-drop APPEND of the %10==4 orders re-keyed +700M
    written WITHOUT the dropped column.  The final table must read as
    exactly three columns over all files (old files' status bytes
    ignored by the name projection)."""
    from olive_spark.ops.maintenance import drop_column

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.write.format("olive").option("table", "orders_dropped") \
            .mode("append").save(out)
        drop_column(out, "o_orderstatus", table="orders_dropped")
        extra = base.filter(F.col("o_custkey") % 10 == 4).select(
            (F.col("o_orderkey") + F.lit(700_000_000)).alias("o_orderkey"),
            "o_custkey", "o_totalprice",
        )
        extra.write.format("olive").option("table", "orders_dropped") \
            .mode("append").save(out)

    return _build_once(spark, sf, "orders_dropped", "_DROP_OK", build)


def scan_after_drop_column(spark: SparkSession, sf: str) -> DataFrame:
    """DROP COLUMN parity: aggregate the post-drop table and pin the
    surviving column set IN THE VALUES (the ``cols`` witness) — a drop
    that left the column in the schema, hid the wrong one, or broke
    post-drop appends hash-mismatches the pure base-table oracle."""
    path = _ensure_orders_dropped(spark, sf)
    df = spark.read.format("olive") \
        .option("table", "orders_dropped").load(path)
    return df.groupBy((F.col("o_custkey") % 5).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum(F.col("o_orderkey")).alias("sum_keys"),
    ).withColumn("cols", F.lit(",".join(sorted(df.columns))))


SQL_AFTER_DROP = (
    "WITH final AS ("
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "UNION ALL "
    "SELECT o_orderkey + 700000000, o_custkey, o_totalprice "
    "FROM orders WHERE o_custkey % 10 = 4) "
    "SELECT o_custkey % 5 AS bucket, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, "
    "'o_custkey,o_orderkey,o_totalprice' AS cols "
    "FROM final GROUP BY o_custkey % 5"
)


def scan_changes_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Change-data-feed parity (ops.changes.read_changes): the NET
    row-level changes between the orders_merged table's base version
    and its post-merge/post-delete head, labeled insert / delete /
    update_pre+postimage by key membership.  The oracle recomputes the
    same feed as two EXCEPT ALL multiset differences between the
    reconstructed post-state and the base view — a diff that leaked a
    moved-but-identical row, dropped a delete, or mislabeled an update
    hash-mismatches.  Snapshot-diff cost is bounded by REWRITTEN files
    (the reader's `files` option scans only what the versions disagree
    on), never table size."""
    from olive_spark.ops.changes import read_changes

    path = _ensure_orders_merged(spark, sf)
    df = read_changes(
        spark, path, since=1, table="orders_merged",
        key_cols=["o_orderkey"],
    )
    return df.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").alias("price"), "_change_type",
    )


SQL_CHANGES_FEED = (
    "WITH src AS ("
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice "
    "FROM orders WHERE o_custkey % 10 = 0 "
    "UNION ALL "
    "SELECT o_orderkey + 900000000, o_custkey, o_orderstatus, o_totalprice * 2 "
    "FROM orders WHERE o_custkey % 10 = 5), "
    "post AS ("
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
    "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src) "
    "UNION ALL SELECT * FROM src), "
    "postf AS (SELECT * FROM post WHERE o_orderstatus <> 'P'), "
    "base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders), "
    "ins AS (SELECT * FROM postf EXCEPT ALL SELECT * FROM base), "
    "del AS (SELECT * FROM base EXCEPT ALL SELECT * FROM postf), "
    "upd AS (SELECT o_orderkey FROM ins INTERSECT SELECT o_orderkey FROM del) "
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS price, "
    "CASE WHEN o_orderkey IN (SELECT o_orderkey FROM upd) "
    "THEN 'update_postimage' ELSE 'insert' END AS _change_type FROM ins "
    "UNION ALL "
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS price, "
    "CASE WHEN o_orderkey IN (SELECT o_orderkey FROM upd) "
    "THEN 'update_preimage' ELSE 'delete' END AS _change_type FROM del"
)


def scan_changes_by_commit(spark: SparkSession, sf: str) -> DataFrame:
    """Per-COMMIT change feed parity (ops.changes.read_changes_by_commit):
    every change row carries the snapshot version that produced it, so
    the v2 MERGE churn the net feed cancels against the v3 DELETE stays
    visible here.  The oracle rebuilds each commit's delta as its own
    EXCEPT ALL pair over the reconstructed states — a feed that merged
    commits, mislabeled a version, or leaked intermediate-file rows
    hash-mismatches."""
    from olive_spark.ops.changes import read_changes_by_commit

    path = _ensure_orders_merged(spark, sf)
    df = read_changes_by_commit(spark, path, since=1, table="orders_merged")
    return df.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").alias("price"),
        "_change_type", "_commit_version",
    )


SQL_CHANGES_BY_COMMIT = (
    "WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders), "
    "src AS ("
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice "
    "FROM orders WHERE o_custkey % 10 = 0 "
    "UNION ALL "
    "SELECT o_orderkey + 900000000, o_custkey, o_orderstatus, o_totalprice * 2 "
    "FROM orders WHERE o_custkey % 10 = 5), "
    "post2 AS ("
    "SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src) "
    "UNION ALL SELECT * FROM src), "
    "post3 AS (SELECT * FROM post2 WHERE NOT (o_orderstatus = 'P')) "
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS price, "
    "'insert' AS _change_type, CAST(2 AS INT) AS _commit_version "
    "FROM (SELECT * FROM post2 EXCEPT ALL SELECT * FROM base) "
    "UNION ALL "
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'delete', CAST(2 AS INT) "
    "FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM post2) "
    "UNION ALL "
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'insert', CAST(3 AS INT) "
    "FROM (SELECT * FROM post3 EXCEPT ALL SELECT * FROM post2) "
    "UNION ALL "
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'delete', CAST(3 AS INT) "
    "FROM (SELECT * FROM post2 EXCEPT ALL SELECT * FROM post3)"
)


def ts_anomaly_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling z-score anomaly detection per user: 20-row trailing mean
    and variance (computed as avg(x²)−avg(x)² with IDENTICAL expression
    shape in both engines — window frames iterate rows in ORDER, so the
    double math is bit-reproducible where stddev_samp's
    engine-specific accumulation would not be), z emitted for rows with
    a full warm-up frame.  One shuffle on user_id; the frame is a
    bounded ROWS window, so state per key is 20 values at any scale."""
    ev = data.load(
        spark, sf, "events", columns=["event_id", "user_id", "ts", "value"]
    )
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(tus, F.col("event_id"))
        .rowsBetween(-19, 0)
    )
    avg = F.avg("value").over(w)
    avg2 = F.avg(F.col("value") * F.col("value")).over(w)
    n = F.count("*").over(w)
    var = F.greatest(avg2 - avg * avg, F.lit(0.0))
    z = (F.col("value") - avg) / F.sqrt(var + F.lit(1e-9))
    return (
        ev.select(
            "user_id", "event_id",
            F.round(z, 6).alias("z"),
            n.alias("n_frame"),
        )
        .filter(F.col("n_frame") == 20)
        .drop("n_frame")
    )


SQL_TS_ANOMALY = (
    "WITH t AS (SELECT user_id, event_id, value, "
    "AVG(value) OVER w AS a, "
    "AVG(value * value) OVER w AS a2, "
    "COUNT(*) OVER w AS n_frame "
    "FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id "
    "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) "
    "SELECT user_id, event_id, "
    "ROUND((value - a) / SQRT(GREATEST(a2 - a * a, 0.0) + 1e-9), 6) AS z "
    "FROM t WHERE n_frame = 20"
)


def _ensure_orders_dv(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising MERGE-ON-READ deletes
    (deletion vectors, format/deletion.py):

      v1  base: orders (o_orderkey, o_custkey, o_orderstatus,
          o_totalprice), 4 chunk files
      v2  delete_where(o_orderkey % 97 = 3, mode="dv") — positions land
          in _olive_dv/ sidecars, ZERO data files rewritten
      v3  delete_where(o_orderkey % 97 = 11, mode="dv") — a second DV
          per file composes by union

    The builder asserts no data file was rewritten (files_dv > 0,
    files_rewritten == 0), so a silent fallback to copy-on-write cannot
    masquerade as DV coverage.  Post-state is a pure function of the
    base orders view — the DuckDB oracle replays the deletes as WHERE
    NOT IN, so a scan that failed to fold a DV (resurrected rows) or
    over-folded (lost rows) hash-mismatches."""
    from olive_spark.ops.maintenance import delete_where

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.repartition(4).write.format("olive") \
            .option("table", "orders_dv").mode("append").save(out)
        r2 = delete_where(
            spark, out, "o_orderkey % 97 = 3", table="orders_dv",
            mode="dv",
        )
        r3 = delete_where(
            spark, out, "o_orderkey % 97 = 11", table="orders_dv",
            mode="dv",
        )
        assert r2["files_dv"] > 0 and r2["files_rewritten"] == 0, r2
        assert r3["files_dv"] > 0 and r3["files_rewritten"] == 0, r3

    return _build_once(spark, sf, "orders_dv", "_DV_OK", build)


def scan_after_dv_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read DELETE parity: aggregate the orders_dv table after
    two deletion-vector commits — no data file was rewritten (the
    builder asserts it), so every deleted row is masked purely by the
    _olive_dv/ position sidecars folded in at scan time.  A DV the scan
    skipped, double-applied, or misaligned against the row grid
    hash-mismatches the oracle's WHERE-NOT replay."""
    path = _ensure_orders_dv(spark, sf)
    df = spark.read.format("olive").option("table", "orders_dv").load(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum(F.col("o_orderkey")).alias("sum_keys"),
    )


SQL_AFTER_DV_DELETE = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM orders WHERE o_orderkey % 97 NOT IN (3, 11) "
    "GROUP BY o_orderstatus"
)


def scan_dv_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Time travel ACROSS deletion-vector commits: snapshot 2 must fold
    exactly the FIRST DV (v2's delete applied, v3's not) — the snapshot
    log's per-version DV state, not the live directory, drives the
    folding.  A reader using live DV state here would drop v3's rows
    too and hash-mismatch."""
    path = _ensure_orders_dv(spark, sf)
    df = (
        spark.read.format("olive").option("table", "orders_dv")
        .option("snapshot", "2").load(path)
    )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_orderkey")).alias("sum_keys"),
    )


SQL_DV_TIME_TRAVEL = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM orders WHERE o_orderkey % 97 <> 3 "
    "GROUP BY o_orderstatus"
)


def _ensure_orders_sync(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising ``WHEN NOT MATCHED BY
    SOURCE [AND cond] THEN DELETE`` (the third Delta merge clause
    family, r10):

      v1  base: orders (o_orderkey, o_custkey, o_orderstatus,
          o_totalprice)
      v2  merge keyed on o_orderkey, source = every %3==0 order with
          price+100, with not_matched_by_source_delete and condition
          ``o_orderstatus = 'O'`` — matched rows take the bumped price,
          unmatched 'O' rows are DELETED, unmatched non-'O' rows pass
          through untouched.

    Post-state is a pure function of the base orders view; the oracle
    replays the clause as a CASE + filter."""
    from olive_spark.ops.maintenance import merge_upsert

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.repartition(4).write.format("olive") \
            .option("table", "orders_sync").mode("append").save(out)
        src = base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
        )
        merge_upsert(
            spark, out, src, key_cols=["o_orderkey"], table="orders_sync",
            not_matched_by_source_delete=True,
            not_matched_by_source_condition="o_orderstatus = 'O'",
        )

    return _build_once(spark, sf, "orders_sync", "_SYNC_OK", build)


def scan_merge_not_matched_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """NOT-MATCHED-BY-SOURCE merge parity: aggregate the synced table —
    matched rows carry the bumped price, unmatched 'O' rows are gone,
    unmatched non-'O' rows survive unchanged.  A clause that deleted
    too much (ignored the condition), too little (kept unmatched 'O'
    rows), or replaced an unmatched row hash-mismatches the oracle's
    anti-join replay."""
    path = _ensure_orders_sync(spark, sf)
    df = spark.read.format("olive").option("table", "orders_sync").load(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum(F.col("o_orderkey")).alias("sum_keys"),
    )


SQL_MERGE_NMBS = (
    "WITH merged AS ("
    "SELECT o_orderkey, o_orderstatus, "
    "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0 "
    "ELSE o_totalprice END AS o_totalprice "
    "FROM orders "
    "WHERE o_orderkey % 3 = 0 OR NOT (o_orderstatus = 'O')) "
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM merged GROUP BY o_orderstatus"
)


def _ensure_orders_replaced(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising ``replaceWhere``
    (Delta's INSERT OVERWRITE ... WHERE, r10):

      v1  base: orders hive-partitioned by o_orderstatus
      v2  replace_where(o_orderstatus = 'F') with the recomputed 'F'
          slice (price doubled) — ONE staged-swap commit; 'O'/'P'
          partitions keep their exact bytes.

    The builder asserts whole files swapped (files_replaced > 0) and
    the oracle replays the swap as a UNION of untouched + recomputed
    slices."""
    from olive_spark.ops.maintenance import replace_where

    def build(out: str) -> None:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        base = data.load(spark, sf, "orders", columns=cols)
        base.repartition("o_orderstatus").write.format("olive") \
            .option("table", "orders_replaced") \
            .option("partitionBy", "o_orderstatus") \
            .mode("append").save(out)
        new = base.filter(F.col("o_orderstatus") == "F").withColumn(
            "o_totalprice", F.col("o_totalprice") * F.lit(2.0)
        )
        r = replace_where(
            spark, out, new, "o_orderstatus = 'F'",
            table="orders_replaced",
        )
        assert r["files_replaced"] > 0, r

    return _build_once(spark, sf, "orders_replaced", "_REPL_OK", build)


def scan_after_replace_where(spark: SparkSession, sf: str) -> DataFrame:
    """replaceWhere parity: aggregate the table after one atomic
    partition overwrite — the 'F' slice carries doubled prices, the
    other partitions are byte-untouched.  A replace that leaked old
    'F' rows, dropped new ones, or touched another partition
    hash-mismatches the oracle's union replay."""
    path = _ensure_orders_replaced(spark, sf)
    df = (
        spark.read.format("olive")
        .option("table", "orders_replaced").load(path)
    )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum(F.col("o_orderkey")).alias("sum_keys"),
    )


SQL_AFTER_REPLACE_WHERE = (
    "WITH merged AS ("
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
    "WHERE o_orderstatus <> 'F' "
    "UNION ALL "
    "SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 FROM orders "
    "WHERE o_orderstatus = 'F') "
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM merged GROUP BY o_orderstatus"
)


def _ensure_orders_widened(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising metadata-only TYPE
    WIDENING (Iceberg type promotion, r10):

      v1  base: orders with o_custkey DOWNCAST to int32 and
          o_totalprice to float32 (so the stored files carry the narrow
          types)
      --  widen_column(o_custkey → bigint), widen_column(o_totalprice →
          double): sidecar-only, zero data rewrite
      v2  append two rows whose o_custkey only fits int64

    Every scan casts the narrow stored files to the widened types at
    read; the oracle replays the union with plain casts."""
    from olive_spark.ops.maintenance import widen_column

    def build(out: str) -> None:
        base = data.load(
            spark, sf, "orders",
            columns=["o_orderkey", "o_custkey", "o_totalprice"],
        ).select(
            "o_orderkey",
            F.col("o_custkey").cast("int").alias("o_custkey"),
            F.col("o_totalprice").cast("float").alias("o_totalprice"),
        )
        base.coalesce(2).write.format("olive") \
            .option("table", "orders_widened").mode("append").save(out)
        widen_column(out, "o_custkey", "bigint", table="orders_widened")
        widen_column(out, "o_totalprice", "double", table="orders_widened")
        wide = spark.createDataFrame(
            [(900_000_001, 1 << 40, 1.5), (900_000_002, (1 << 40) + 1, 2.5)],
            "o_orderkey long, o_custkey long, o_totalprice double",
        )
        wide.write.format("olive").option("table", "orders_widened") \
            .mode("append").save(out)

    return _build_once(spark, sf, "orders_widened", "_WIDE_OK", build)


def scan_after_widen_column(spark: SparkSession, sf: str) -> DataFrame:
    """Type-widening parity: aggregate the widened table — narrow-file
    rows cast exactly to the widened types, wide appended rows keep
    values beyond the old type's range.  A widening that corrupted a
    cast, dropped the sidecar authority, or rejected the wide append
    hash-mismatches the oracle's cast replay.  float32 values widen
    bit-exactly to double, so even the float sums hash-match."""
    path = _ensure_orders_widened(spark, sf)
    df = (
        spark.read.format("olive")
        .option("table", "orders_widened").load(path)
    )
    return df.groupBy((F.col("o_orderkey") % 7).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("o_custkey").alias("sum_cust"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


SQL_AFTER_WIDEN = (
    "WITH widened AS ("
    "SELECT o_orderkey, CAST(CAST(o_custkey AS INT) AS BIGINT) AS o_custkey, "
    "CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice FROM orders "
    "UNION ALL SELECT 900000001, 1099511627776, 1.5 "
    "UNION ALL SELECT 900000002, 1099511627777, 2.5) "
    "SELECT o_orderkey % 7 AS bucket, COUNT(*) AS n, "
    "CAST(SUM(o_custkey) AS BIGINT) AS sum_cust, "
    "ROUND(SUM(o_totalprice), 2) AS sum_price "
    "FROM widened GROUP BY o_orderkey % 7"
)


def _ensure_orders_added_col(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising metadata-only ADD
    COLUMN (r10, the explicit-DDL form of add-column evolution):

      v1  base: orders (o_orderkey, o_totalprice)
      --  add_column(o_channel string): sidecar-only
      v2  append the %5==0 orders re-keyed +900M carrying the column

    Old files null-fill o_channel at read; the oracle replays the union
    with a literal NULL."""
    from olive_spark.ops.maintenance import add_column

    def build(out: str) -> None:
        base = data.load(
            spark, sf, "orders", columns=["o_orderkey", "o_totalprice"]
        )
        base.coalesce(2).write.format("olive") \
            .option("table", "orders_added").mode("append").save(out)
        add_column(out, "o_channel", "string", table="orders_added")
        extra = base.filter(F.col("o_orderkey") % 5 == 0).select(
            (F.col("o_orderkey") + F.lit(900_000_000)).alias("o_orderkey"),
            "o_totalprice",
            F.lit("web").alias("o_channel"),
        )
        extra.write.format("olive").option("table", "orders_added") \
            .mode("append").save(out)

    return _build_once(spark, sf, "orders_added", "_ADD_OK", build)


def scan_after_add_column(spark: SparkSession, sf: str) -> DataFrame:
    """ADD COLUMN parity: group by the added column — pre-DDL rows read
    it as NULL through the sidecar authority, post-DDL appends carry
    values.  A sidecar that failed to declare the column (hidden data)
    or a null-fill that corrupted the cast hash-mismatches."""
    path = _ensure_orders_added_col(spark, sf)
    df = (
        spark.read.format("olive")
        .option("table", "orders_added").load(path)
    )
    return df.groupBy("o_channel").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


SQL_AFTER_ADD_COLUMN = (
    "WITH unioned AS ("
    "SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_channel "
    "FROM orders "
    "UNION ALL "
    "SELECT o_orderkey + 900000000, o_totalprice, 'web' FROM orders "
    "WHERE o_orderkey % 5 = 0) "
    "SELECT o_channel, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM unioned GROUP BY o_channel"
)


def _ensure_orders_remapped(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising the full COLUMN-
    MAPPING lifecycle (r11 — Delta ColumnMapping / Iceberg field-ids,
    format/table_schema.py):

      v1  base: orders → (o_orderkey, o_totalprice, o_tag) where
          o_tag carries o_orderstatus values, 2 files
      --  rename_column(o_totalprice → o_price): id-stable, no rewrite
      --  drop_column(o_tag): the id retires with its data
      --  add_column(o_tag string): SAME name, FRESH id
      v2  append the %7==0 orders re-keyed +900M with doubled o_price
          and o_tag='new'

    Pre-DDL files must resolve o_price by COLUMN ID (their bytes sit
    under 'o_totalprice') and read the re-added o_tag as NULL — a read
    path that matched the stored name would resurrect 'O'/'F'/'P'
    status strings into the o_tag groups and hash-mismatch loudly."""
    from olive_spark.ops.maintenance import (
        add_column,
        drop_column,
        rename_column,
    )

    def build(out: str) -> None:
        base = data.load(
            spark, sf, "orders",
            columns=["o_orderkey", "o_totalprice", "o_orderstatus"],
        ).withColumnRenamed("o_orderstatus", "o_tag")
        base.coalesce(2).write.format("olive") \
            .option("table", "orders_remapped").mode("append").save(out)
        rename_column(out, "o_totalprice", "o_price", table="orders_remapped")
        drop_column(out, "o_tag", table="orders_remapped")
        add_column(out, "o_tag", "string", table="orders_remapped")
        extra = base.filter(F.col("o_orderkey") % 7 == 0).select(
            (F.col("o_orderkey") + F.lit(900_000_000)).alias("o_orderkey"),
            (F.col("o_totalprice") * 2).alias("o_price"),
            F.lit("new").alias("o_tag"),
        )
        extra.write.format("olive").option("table", "orders_remapped") \
            .mode("append").save(out)

    return _build_once(spark, sf, "orders_remapped", "_REMAP_OK", build)


def scan_after_column_remap(spark: SparkSession, sf: str) -> DataFrame:
    """Column-mapping parity: aggregate the RENAMED column (resolved by
    id out of pre-rename files) grouped by the DROPPED-then-RE-ADDED
    name (NULL for every pre-DDL row — old values bound to the retired
    id).  Cites Delta ColumnMapping semantics; reference n/a (no
    directory/schema layer, /root/reference/src/root.zig:9-16)."""
    path = _ensure_orders_remapped(spark, sf)
    df = (
        spark.read.format("olive")
        .option("table", "orders_remapped").load(path)
    )
    return df.groupBy("o_tag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_price").cast(D)).cast(D).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


SQL_AFTER_COLUMN_REMAP = (
    "WITH unioned AS ("
    "SELECT o_orderkey, o_totalprice AS o_price, "
    "CAST(NULL AS VARCHAR) AS o_tag FROM orders "
    "UNION ALL "
    "SELECT o_orderkey + 900000000, o_totalprice * 2, 'new' "
    "FROM orders WHERE o_orderkey % 7 = 0) "
    "SELECT o_tag, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_price AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM unioned GROUP BY o_tag"
)


def _ensure_orders_dv_gc(spark: SparkSession, sf: str) -> str:
    """Build (once per cache) a table exercising the DV GARBAGE
    COLLECTION lifecycle (r10):

      v1  base: orders (o_orderkey, o_totalprice), 2 files
      v2  delete_where(o_orderkey % 3 = 0, mode="dv") — ~33% of every
          file masked (past the GC threshold)
      v3  compact_if_needed(max_dv_fraction=0.25) — the auto trigger
          classifies both files DV-heavy and materializes the masks
          away in a SCOPED compact

    The builder asserts the trigger fired and no live DV remains; the
    oracle is the plain WHERE replay, so a GC that resurrected masked
    rows or dropped survivors hash-mismatches."""
    from olive_spark.ops.maintenance import compact_if_needed, delete_where

    def build(out: str) -> None:
        import glob as _g

        base = data.load(
            spark, sf, "orders", columns=["o_orderkey", "o_totalprice"]
        )
        # repartition, not coalesce: the scan's width follows the cached
        # files' bytes and may be one partition, but GC needs 2 files
        base.repartition(2).write.format("olive") \
            .option("table", "orders_dv_gc").mode("append").save(out)
        r = delete_where(
            spark, out, "o_orderkey % 3 = 0", table="orders_dv_gc",
            mode="dv",
        )
        assert r["files_dv"] == 2, r
        g = compact_if_needed(
            spark, out, max_dv_fraction=0.25, table="orders_dv_gc",
            retain_history=True,
        )
        assert g["compacted"] and g.get("dv_heavy_files") == 2, g
        assert not _g.glob(
            _os_path_join(out, "_olive_dv", "**", "*.dv"), recursive=True
        ), "GC must materialize every live DV"

    return _build_once(spark, sf, "orders_dv_gc", "_DVGC_OK", build)


def _os_path_join(*parts: str) -> str:
    import os as _os

    return _os.path.join(*parts)


def scan_dv_gc(spark: SparkSession, sf: str) -> DataFrame:
    """DV garbage-collection parity: aggregate the table after a heavy
    DV delete was auto-materialized by compact_if_needed's
    max_dv_fraction trigger — results must equal the plain-WHERE
    oracle, and time travel to the pre-GC DV'd version must too (the
    retired files and their DVs live in history)."""
    path = _ensure_orders_dv_gc(spark, sf)
    df = (
        spark.read.format("olive")
        .option("table", "orders_dv_gc").load(path)
    )
    return df.groupBy((F.col("o_orderkey") % 7).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(D)).cast(D).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


SQL_DV_GC = (
    "SELECT o_orderkey % 7 AS bucket, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys "
    "FROM orders WHERE o_orderkey % 3 <> 0 "
    "GROUP BY o_orderkey % 7"
)


def scan_dv_changes_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Change feed over DV commits: a deletion-vector delete changes
    rows WITHOUT changing the file list, so the diff must come from the
    per-version DV state (new DV positions read back in select mode).
    v1→v3 nets both DV deletes; each row surfaces as a 'delete'."""
    from olive_spark.ops.changes import read_changes

    path = _ensure_orders_dv(spark, sf)
    ch = read_changes(spark, path, since=1, until=3, table="orders_dv")
    return ch.select("o_orderkey", "_change_type")


SQL_DV_CHANGES_FEED = (
    "SELECT o_orderkey, 'delete' AS _change_type "
    "FROM orders WHERE o_orderkey % 97 IN (3, 11)"
)


QUERIES: dict[str, tuple] = {
    "join_lateral_topn": (join_lateral_topn, SQL_JOIN_LATERAL),
    "ts_resample_locf": (ts_resample_locf, SQL_TS_RESAMPLE),
    "ts_resample_interpolate": (ts_resample_interpolate, SQL_TS_INTERP),
    "join_fuzzy_names": (join_fuzzy_names, SQL_FUZZY_NAMES),
    "scan_table_checksum": (scan_table_checksum, SQL_TABLE_CHECKSUM),
    "scan_time_travel": (scan_time_travel, SQL_TIME_TRAVEL),
    "scan_time_travel_timestamp": (
        scan_time_travel_timestamp, SQL_TIME_TRAVEL,
    ),
    "scan_multi_table_txn": (scan_multi_table_txn, SQL_MULTI_TABLE_TXN),
    "scan_txn_group_cut": (scan_txn_group_cut, SQL_TXN_GROUP_CUT),
    "scan_txn_mutation_cut": (scan_txn_mutation_cut, SQL_TXN_MUTATION_CUT),
    "scan_branch_wap": (scan_branch_wap, SQL_BRANCH_WAP),
    "scan_branch_mutation": (scan_branch_mutation, SQL_BRANCH_MUTATION),
    "scan_branch_rebase": (scan_branch_rebase, SQL_BRANCH_REBASE),
    "scan_snapshot_history": (scan_snapshot_history, SQL_SNAPSHOT_HISTORY),
    "scan_after_merge_upsert": (scan_after_merge_upsert, SQL_AFTER_MERGE),
    "scan_merge_time_travel": (scan_merge_time_travel, SQL_MERGE_TIME_TRAVEL),
    "scan_merge_conditional_evolve": (
        scan_merge_conditional_evolve, SQL_MERGE_COND_EVOLVE,
    ),
    "scan_changes_feed": (scan_changes_feed, SQL_CHANGES_FEED),
    "scan_changes_by_commit": (scan_changes_by_commit, SQL_CHANGES_BY_COMMIT),
    "ts_anomaly_zscore": (ts_anomaly_zscore, SQL_TS_ANOMALY),
    "scan_merge_conditional_delete": (
        scan_merge_conditional_delete, SQL_MERGE_COND_DELETE,
    ),
    "scan_merge_partitioned": (scan_merge_partitioned, SQL_MERGE_PARTITIONED),
    "scan_incremental_matview": (
        scan_incremental_matview, SQL_INCREMENTAL_MATVIEW,
    ),
    "scan_expectations_gate": (scan_expectations_gate, SQL_EXPECTATIONS_GATE),
    "scan_after_update_where": (scan_after_update_where, SQL_AFTER_UPDATE),
    "scan_after_restore": (scan_after_restore, SQL_AFTER_RESTORE),
    "scan_after_drop_column": (scan_after_drop_column, SQL_AFTER_DROP),
    "scan_hidden_partition_pruning": (
        scan_hidden_partition_pruning, SQL_HIDDEN_PARTITION,
    ),
    "scan_bucket_partition_pruning": (
        scan_bucket_partition_pruning, SQL_BUCKET_PARTITION,
    ),
    "scan_truncate_partition_pruning": (
        scan_truncate_partition_pruning, SQL_TRUNCATE_PARTITION,
    ),
    "scan_merge_hidden_partition": (
        scan_merge_hidden_partition, SQL_MERGE_HIDDEN_PARTITION,
    ),
    "scan_after_respec": (scan_after_respec, SQL_AFTER_RESPEC),
    "scan_after_clone": (scan_after_clone, SQL_AFTER_CLONE),
    "scan_after_rename_column": (
        scan_after_rename_column, SQL_AFTER_RENAME,
    ),
    "scan_table_by_name": (scan_table_by_name, SQL_TABLE_BY_NAME),
    "scan_view_freshness": (scan_view_freshness, SQL_VIEW_FRESHNESS),
    "scan_zorder_pruning": (scan_zorder_pruning, SQL_ZORDER_PRUNING),
    "scan_hilbert_pruning": (scan_hilbert_pruning, SQL_HILBERT_PRUNING),
    "scan_merge_cdc_tombstones": (scan_merge_cdc_tombstones, SQL_MERGE_CDC_TOMB),
    "scan_after_dv_delete": (scan_after_dv_delete, SQL_AFTER_DV_DELETE),
    "scan_merge_not_matched_by_source": (
        scan_merge_not_matched_by_source, SQL_MERGE_NMBS,
    ),
    "scan_after_replace_where": (
        scan_after_replace_where, SQL_AFTER_REPLACE_WHERE,
    ),
    "scan_after_widen_column": (scan_after_widen_column, SQL_AFTER_WIDEN),
    "scan_after_add_column": (scan_after_add_column, SQL_AFTER_ADD_COLUMN),
    "scan_after_column_remap": (
        scan_after_column_remap, SQL_AFTER_COLUMN_REMAP,
    ),
    "scan_dv_gc": (scan_dv_gc, SQL_DV_GC),
    "scan_dv_time_travel": (scan_dv_time_travel, SQL_DV_TIME_TRAVEL),
    "scan_dv_changes_feed": (scan_dv_changes_feed, SQL_DV_CHANGES_FEED),
    "ts_ewma_events": (ts_ewma_events, SQL_TS_EWMA),
    "join_interval_overlap": (join_interval_overlap, SQL_INTERVAL_JOIN),
    "reshape_unpivot": (reshape_unpivot, SQL_UNPIVOT),
    "agg_conditional_bools": (agg_conditional_bools, SQL_AGG_CONDITIONAL),
    "agg_grouped_map_mad": (agg_grouped_map_mad, SQL_GROUPED_MAD),
    "agg_median_disc": (agg_median_disc, SQL_AGG_MEDIAN),
    "scalar_hash_bitwise": (scalar_hash_bitwise, SQL_SCALAR_HASH),
    "window_first_last": (window_first_last, SQL_WINDOW_FIRST_LAST),
    "scan_partitioned_pruning": (scan_partitioned_pruning, SQL_SCAN_PARTITIONED),
    "scan_bloom_pruning": (scan_bloom_pruning, SQL_SCAN_BLOOM),
    "agg_histogram_buckets": (agg_histogram_buckets, SQL_AGG_HISTOGRAM),
    "join_skew_salted": (join_skew_salted, SQL_JOIN_SKEW),
    "events_window_funnel": (events_window_funnel, SQL_WINDOW_FUNNEL),
    "events_window_funnel_chained": (
        events_window_funnel_chained, SQL_WINDOW_FUNNEL,
    ),
    "events_cohort_retention": (events_cohort_retention, SQL_COHORT_RETENTION),
}
