"""Physical-plan assertions — the 100 TB contract, checked at sf0.001.

Correctness tests prove the operators compute the right answer; these
prove the PLANS are the ones that survive a 1000-executor scale-up:
column pruning reaches the olive scan, small dimensions broadcast
instead of shuffling, scan-shaped queries have no exchange at all, and
the corpus side of the contamination check is never shuffled.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_prunes_to_projected_columns(spark):
    from olive_spark.queries import data

    df = data.load(spark, SF, "lineitem", columns=["l_orderkey", "l_extendedprice"])
    p = plan_of(df)
    assert "BatchScan olive" in p
    # the 16-column table must reach the scan as exactly the 2 projected
    # columns — a full-width ReadSchema means pruning regressed
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>" in p


def test_scan_filter_project_has_no_exchange(spark):
    from olive_spark.queries import data

    df = data.load(spark, SF, "orders", columns=["o_orderkey", "o_totalprice"]) \
        .filter(F.col("o_totalprice") > 1000)
    p = plan_of(df)
    assert "Exchange" not in p, "narrow scan+filter must not shuffle"


def test_dimension_joins_broadcast(spark):
    from olive_spark.queries import ALL_QUERIES

    df = ALL_QUERIES["join_broadcast_dims"][0](spark, SF)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "dims must broadcast, not sort-merge"


def test_contamination_corpus_side_not_shuffled(spark):
    from olive_spark.queries import ALL_QUERIES

    df = ALL_QUERIES["llm_contamination"][0](spark, SF)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    # exactly one exchange is legitimate: the final per-source groupBy.
    # A second one would mean the corpus was shuffled for the join.
    n_exchange = p.count("+- Exchange") + p.count("* Exchange")
    assert n_exchange <= 2, f"corpus side shuffled for the join:\n{p}"


def test_groupby_is_partial_then_final(spark):
    from olive_spark.queries import data

    df = (
        data.load(spark, SF, "lineitem", columns=["l_returnflag", "l_quantity"])
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    p = plan_of(df)
    # map-side combine: a partial_sum aggregate below exactly one
    # hash-partitioned exchange (node names repeat in formatted output,
    # so count the partitioning argument, not the node label)
    assert "partial_sum" in p
    assert p.count("hashpartitioning") == 1


def test_topk_uses_takeordered(spark):
    from olive_spark.queries import data

    df = (
        data.load(spark, SF, "orders", columns=["o_orderkey", "o_totalprice"])
        .orderBy(F.col("o_totalprice").desc())
        .limit(10)
    )
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p, "top-k must not global-sort"


def test_funnel_is_single_shuffle(spark):
    from olive_spark.queries import ALL_QUERIES

    df = ALL_QUERIES["events_window_funnel"][0](spark, SF)
    p = plan_of(df)
    # one exchange for the per-user collect_list, one for the tiny
    # (depth, count) aggregate; the n-stage self-join formulation would
    # show n+1 — a third exchange means the single-pass walk regressed
    assert p.count("hashpartitioning") <= 2, p


def test_cohort_retention_shuffles_slim_pairs(spark):
    from olive_spark.queries import ALL_QUERIES

    df = ALL_QUERIES["events_cohort_retention"][0](spark, SF)
    p = plan_of(df)
    # events must reach their first exchange as (user_id, bucket) pairs —
    # a ts or event payload column in ReadSchema means the slim projection
    # regressed
    assert "ReadSchema: struct<ts:timestamp,user_id:bigint>" in p
    assert "SortMergeJoin" not in p or "BroadcastHashJoin" not in p


def test_simhash_bit_vote_is_arrow_batched(spark):
    """SimHash signatures must run as ONE vectorized Arrow pass
    (MapInArrow), not a row-at-a-time Python UDF."""
    from olive_spark.ops.dedup import simhash_signatures
    from olive_spark.queries import data

    df = data.load(spark, SF, "documents", columns=["doc_id", "text"])
    p = plan_of(simhash_signatures(df))
    assert "MapInArrow" in p
    assert "BatchEvalPython" not in p, "row-at-a-time Python UDF crept in"


def test_ivf_assignment_is_arrow_batched(spark):
    """IVF corpus bucket assignment must be the broadcast-matrix Arrow
    matmul path, not an n_centroids-wide per-row expression tree."""
    from olive_spark.ops.similarity import ivf_topk
    from olive_spark.queries import data

    corpus = data.load(spark, SF, "embeddings", columns=["vec_id", "embedding"])
    queries = corpus.filter(F.col("vec_id") < 2)
    p = plan_of(ivf_topk(corpus, queries, k=5))
    assert "MapInArrow" in p


def test_semantic_dedup_plan_shape(spark):
    """SemDeDup: centroid assignment must be the broadcast-matrix Arrow
    matmul (MapInArrow), within-cluster pruning a grouped-map pandas
    stage (FlatMapGroupsInPandas) — never a row-at-a-time Python UDF."""
    from olive_spark.ops.dedup import semantic_dedup
    from olive_spark.queries import data

    df = data.load(spark, SF, "embeddings", columns=["vec_id", "embedding"])
    p = plan_of(semantic_dedup(df, n_clusters=4))
    assert "MapInArrow" in p
    assert "FlatMapGroupsInPandas" in p
    assert "BatchEvalPython" not in p, "row-at-a-time Python UDF crept in"


def test_incremental_dedup_bloom_path_is_arrow_batched(spark):
    """The bloom membership test must be one MapInArrow pass, and the
    corpus side of the confirm join must reach it as hashes only (text
    pruned at the scan)."""
    from olive_spark.ops import dedup
    from olive_spark.queries import data

    docs = data.load(spark, SF, "documents", columns=["doc_id", "text"])
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = data.load(spark, SF, "documents", columns=["doc_id", "text"]) \
        .filter(F.col("doc_id") < 100)
    bloom = dedup.build_corpus_bloom(corpus, expected_items=1024)
    p = plan_of(dedup.incremental_dedup(batch, corpus, bloom=bloom))
    assert "MapInArrow" in p
    assert "BatchEvalPython" not in p, "row-at-a-time Python UDF crept in"


def test_token_budget_mix_skew_safe_plan(spark):
    """Skew contract (r6 audit): no window may partition a RAW-ROW
    stream by source alone — the capped crawl-dump source would ride
    one task.  The row-level ranking window must partition by
    (source, n_tokens); the only source-only window runs over the
    aggregated per-(source, length) histogram (__btok), upstream of the
    budget prune that drops the tail before any row-level sort."""
    import re

    from olive_spark.queries import ALL_QUERIES

    df = ALL_QUERIES["llm_token_budget_mix"][0](spark, SF)
    p = plan_of(df)
    assert "SinglePartition" not in p
    assert "BatchEvalPython" not in p
    assert "MapInArrow" not in p, "token counting left the JVM"
    # raw-row window partitions by BOTH source and n_tokens (n_tokens
    # directly after source with no sort direction = partition column)
    assert re.search(
        r"row_number\(\) windowspecdefinition\(source#\d+, n_tokens#\d+,", p
    ), p
    # the slim histogram window (source-only) consumes bucket masses,
    # and sits before the row-level ranking in the plan
    assert p.index("sum(__btok") < p.index("row_number()"), p


def test_tpch_sql_queries_broadcast_fixed_dims(spark):
    """SQL-based TPC-H shapes must broadcast the fixed-cardinality dims
    (nation/region) via hints: Python DS sources report no size stats,
    so without the hint the static plan sort-merge-joins a 25-row
    table against the fact side."""
    from olive_spark.queries import ALL_QUERIES

    for q in ("tpch_q21_waiting_orders", "tpch_q11_important_stock"):
        p = plan_of(ALL_QUERIES[q][0](spark, SF))
        assert "BroadcastHashJoin" in p, f"{q} lost its dim broadcast"


def test_approx_sketches_within_error_bounds(spark):
    """agg_approx_sketches is rows-only at the driver (sketch estimates
    differ across engines by design), so pin accuracy HERE: HLL++ with
    rsd=0.02 must land within 5% of the exact distinct count, and each
    approximate percentile must sit inside a bracket of true quantiles
    (p50 within [p40, p60], p95/p99 between a lower true quantile and
    the max)."""
    from pyspark.sql import functions as F

    from olive_spark.queries import ALL_QUERIES, data

    got = {r["l_returnflag"]: r
           for r in ALL_QUERIES["agg_approx_sketches"][0](spark, SF).collect()}
    df = data.load(spark, SF, "lineitem",
                   columns=["l_returnflag", "l_partkey", "l_extendedprice"])
    exact = {
        r["l_returnflag"]: r
        for r in df.groupBy("l_returnflag").agg(
            F.countDistinct("l_partkey").alias("nd"),
            F.expr("percentile(l_extendedprice, array(0.4, 0.5, 0.6, 0.9))").alias("p"),
            F.max("l_extendedprice").alias("mx"),
        ).collect()
    }
    assert set(got) == set(exact) and got
    for k, g in got.items():
        e = exact[k]
        assert abs(g["nd_parts_approx"] - e["nd"]) <= max(2, 0.05 * e["nd"]), (
            k, g["nd_parts_approx"], e["nd"])
        p = [float(x) for x in e["p"]]
        mx = float(e["mx"])
        assert p[0] <= float(g["price_p50"]) <= p[2], (k, g["price_p50"], p)
        assert p[3] <= float(g["price_p95"]) <= mx, (k, g["price_p95"])
        assert p[3] <= float(g["price_p99"]) <= mx, (k, g["price_p99"])


def test_gopher_rules_is_shuffle_free_scan(spark):
    """The rule gate is a narrow map: no exchange, no Python eval."""
    from olive_spark.ops.textstats import gopher_rules
    from olive_spark.queries import data

    df = data.load(spark, SF, "documents", columns=["doc_id", "text"])
    p = plan_of(gopher_rules(df))
    assert "Exchange" not in p, "quality gate must not shuffle"
    assert "BatchEvalPython" not in p and "MapInArrow" not in p, (
        "gate must stay JVM-side"
    )


def test_chunk_documents_is_shuffle_free(spark):
    """Tokenize-once projection + explode: no exchange, no Python."""
    from olive_spark.ops.curation import chunk_documents
    from olive_spark.queries import data

    df = data.load(spark, SF, "documents", columns=["doc_id", "text"])
    p = plan_of(chunk_documents(df))
    assert "Exchange" not in p
    assert "Generate" in p  # the explode
    assert "BatchEvalPython" not in p


def test_ewma_single_shuffle(spark):
    """EWMA: exactly one exchange (the groupBy key shuffle), fold stays
    JVM-side."""
    from olive_spark.ops.timeseries import ewma
    from olive_spark.queries import data

    df = data.load(spark, SF, "events", columns=["user_id", "ts", "value"])
    p = plan_of(ewma(df))
    assert p.count("Exchange") <= 2, p  # partial+final agg pair max
    assert "BatchEvalPython" not in p


def test_interval_join_is_equi_join_not_cartesian(spark):
    """The grid rewrite must plan as an equi-join on cell id — a
    CartesianProduct/BroadcastNestedLoopJoin means the inequality
    predicate leaked into the join condition."""
    from olive_spark.queries import ALL_QUERIES

    df = ALL_QUERIES["join_interval_overlap"][0](spark, SF)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Generate" in p  # the grid-cell explode


def test_pack_sequences_sharded_no_global_sort(spark):
    """Partition-wise packing must not serialize: the row-level cumsum
    window partitions by shard, so the returned plan has NO
    SinglePartition exchange — in contrast to the global oracle-shape
    variant, whose Window.orderBy funnels every row into one task."""
    from olive_spark.queries import ALL_QUERIES

    p = plan_of(ALL_QUERIES["llm_pack_sequences_sharded"][0](spark, SF))
    assert "SinglePartition" not in p, p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p, "shard→pack_off map must broadcast"
    pg = plan_of(ALL_QUERIES["llm_pack_sequences"][0](spark, SF))
    assert "SinglePartition" in pg  # the contrast this test documents


def test_decontaminate_benchmark_broadcasts_corpus_single_agg(spark):
    """The benchmark n-gram set must broadcast (the corpus is the
    100 TB side and is never shuffled as text); the only corpus shuffle
    is the slim per-doc count aggregation."""
    from olive_spark.queries import ALL_QUERIES

    p = plan_of(ALL_QUERIES["llm_decontaminate_ngram"][0](spark, SF))
    assert "BroadcastHashJoin" in p, "benchmark set lost its broadcast"
    assert "SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_dedup_lines_is_shuffle_free_scan(spark):
    from olive_spark.queries import ALL_QUERIES

    p = plan_of(ALL_QUERIES["llm_dedup_lines"][0](spark, SF))
    assert "Exchange" not in p, "line dedup must stay scan-local"
    assert "BatchEvalPython" not in p


def test_boilerplate_frequent_set_broadcast_anti_join(spark):
    from olive_spark.queries import ALL_QUERIES

    p = plan_of(ALL_QUERIES["llm_boilerplate_lines"][0](spark, SF))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, (
        "frequent-line set must broadcast-anti-join"
    )
    assert "SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_resample_interpolate_no_global_window(spark):
    """Gapfill interpolation must stay keyed end-to-end: every window
    partitions by user (no SinglePartition anywhere), all work is
    JVM-side, and the exchange count stays at the LOCF skeleton's
    (bucket agg, bounds, grid, join sides) — a regression to a global
    sort or a per-row Python stage would show here."""
    from olive_spark.queries import ALL_QUERIES

    p = plan_of(ALL_QUERIES["ts_resample_interpolate"][0](spark, SF))
    assert "SinglePartition" not in p
    assert "BatchEvalPython" not in p
    assert p.count("hashpartitioning") <= 5, p


def test_fuzzy_join_is_equi_join_not_cartesian(spark):
    """Symmetric-delete blocking must plan as a hash equi-join on the
    variant key; a CartesianProduct / nested-loop means the distance
    predicate leaked into the join itself."""
    from olive_spark.queries import ALL_QUERIES

    p = plan_of(ALL_QUERIES["join_fuzzy_names"][0](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Generate" in p  # the deletion-variant explode
    assert "BatchEvalPython" not in p


def test_table_checksum_is_partial_final_agg(spark):
    """The checksum must be a pure map-side-combined aggregate: rows
    fold per partition, only (sum, count) pairs cross the wire."""
    from olive_spark.queries import ALL_QUERIES

    p = plan_of(ALL_QUERIES["scan_table_checksum"][0](spark, SF))
    assert "partial" in p.lower(), p
    assert "BatchEvalPython" not in p
    assert p.count("hashpartitioning") == 0, p  # single global reduce only


def test_cap_per_group_is_two_phase_salted_window(spark):
    """cap_per_group must rank in TWO phases — first over (group, salt),
    then over group on the survivors — so one hot domain never
    serializes into a single task; and never plan Python in the loop."""
    from pyspark.sql import functions as F

    from olive_spark.ops.curation import cap_per_group

    df = spark.range(1000).selectExpr(
        "id", "concat('d', id % 5) AS dom", "cast(id % 13 AS int) AS score"
    )
    p = plan_of(cap_per_group(df, "dom", 5, "score", tiebreak_col="id"))
    assert p.count("Window") >= 2, p
    assert "pmod" in p and "xxhash64" in p, p  # the salt key
    assert "BatchEvalPython" not in p


def test_phash_pairs_is_banded_equi_join(spark):
    """phash_pairs must plan the candidate step as a hash equi-join on
    the (band, value) key — a cartesian/nested-loop would mean the
    Hamming predicate leaked into the join."""
    from olive_spark.ops.multimodal import phash_pairs

    hashes = spark.range(200).selectExpr(
        "id AS doc_id", "CAST(id * 2654435761 AS LONG) AS phash"
    )
    p = plan_of(phash_pairs(hashes, max_hamming=4))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "bit_count" in p, p  # exact filter stays a JVM expression
    assert "BatchEvalPython" not in p


def test_read_changes_scans_only_diff_files(spark, tmp_path):
    """The CDF plan's relations must be the explicit diff file-sets:
    the number of scan partitions is bounded by the files the versions
    disagree on, not the table's file count."""
    from olive_spark import register_olive
    from olive_spark.datasource.olive_datasource import _list_chunk_files
    from olive_spark.ops.changes import read_changes
    from olive_spark.ops.maintenance import merge_upsert

    register_olive(spark)
    path = str(tmp_path / "t")
    df = spark.range(1000).selectExpr(
        "id AS k", "id * 10 AS v", "cast(id % 7 as int) AS grp"
    )
    df.repartition(8).write.format("olive").option("chunkRows", 125) \
        .mode("append").save(path)
    n_before = len(_list_chunk_files(path))
    src = spark.range(3).selectExpr(
        "id AS k", "id AS v", "cast(1 as int) AS grp"
    )
    out = merge_upsert(spark, path, src, ["k"])
    feed = read_changes(spark, path, since=1)
    p = plan_of(feed)
    # the touched-file names appear in the plan's relations; untouched
    # part files must not (filter on the merge prefix vs part prefix)
    assert out["files_rewritten"] < n_before
    assert feed.count() > 0
    assert p.count(".olive") <= 4 * (
        out["files_rewritten"] + out["files_added"]
    ), p


def test_probe_lsh_index_is_banded_equi_join(spark, tmp_path):
    """The persisted-index probe must stay bucketed: band triples
    equi-join (never cartesian), signatures computed by ONE Arrow pass
    on the query side only, and no row-at-a-time Python eval."""
    from olive_spark.ops.lsh_index import build_lsh_index, probe_index

    docs = spark.range(40).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 19), "
        "j -> concat('w', (id * 37 + j * 11) % 100))) AS text",
    )
    idx = str(tmp_path / "lsh")
    build_lsh_index(spark, docs, idx)
    probe = probe_index(spark, docs.limit(5), idx, threshold=0.5)
    p = plan_of(probe)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p, "row-at-a-time Python UDF crept in"
    # signature passes: the probe signs the QUERY batch once — the
    # MapInArrow lives under the persisted InMemoryRelation, whose
    # definition the formatted plan repeats at each of its two cache
    # references (bands + jaccard re-attach), so the NODE count is <= 3
    # textual hits; the stored side must come off the olive tables
    assert 1 <= p.count("MapInArrow") <= 3, p
    assert "InMemoryTableScan" in p, "query signatures must be cached"
    assert p.count("BatchScan olive") >= 2  # bands + sigs relations


def test_search_tokens_single_slim_shuffle(spark, tmp_path):
    """AND-mode term search: one postings scan feeding one aggregation
    — the only exchange moves (token, id) rows that survived the term
    filter, and nothing touches Python row evaluation."""
    from olive_spark.ops.text_index import build_text_index, search_tokens

    docs = spark.range(60).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 11), "
        "j -> concat('w', (id * 37 + j * 11) % 100))) AS text",
    )
    idx = str(tmp_path / "tix")
    build_text_index(spark, docs, idx, n_files=4)
    out = search_tokens(spark, idx, ["w13", "w57"], "all")
    p = plan_of(out)
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    # partial agg before the exchange, final after: exactly one shuffle
    assert p.count("Exchange") <= 2, p
    assert "BatchScan olive" in p


def test_funnel_chained_no_gathered_arrays(spark):
    """The unbounded-key funnel scale path must never gather per-key
    series: no collect_list/sort_array anywhere in the plan, and the
    per-stage aggregates stay partial->final hash aggregates."""
    from olive_spark.ops.timeseries import funnel_depths_chained

    df = spark.range(200).selectExpr(
        "id % 20 AS user_id",
        "timestamp_micros(1700000000000000 + id * 1000000) AS ts",
        "CASE WHEN id % 3 = 0 THEN 'view' WHEN id % 3 = 1 THEN 'click' "
        "ELSE 'purchase' END AS event_type",
    )
    p = plan_of(funnel_depths_chained(
        df, stages=[("view", "v"), ("click", "c"), ("purchase", "p")],
    ))
    assert "collect_list" not in p and "sort_array" not in p
    assert "HashAggregate" in p
    assert "Cartesian" not in p


def test_ewma_chunked_no_single_partition(spark):
    """ewma_chunked's rank window partitions BY KEY (never a global
    single-partition window), and the only gathered arrays are the
    rank-chunk groups."""
    from olive_spark.ops.timeseries import ewma_chunked

    df = spark.range(500).selectExpr(
        "id % 10 AS user_id",
        "timestamp_micros(1700000000000000 + id * 1000000) AS ts",
        "cast(id as double) AS value",
    )
    p = plan_of(ewma_chunked(df, chunk=64))
    assert "SinglePartition" not in p
    assert "Cartesian" not in p


def test_bloom_probe_routed_shards_only(spark, tmp_path):
    """The probe plan filters the shard table to the batch's ROUTED
    shard ids before the cogroup — a big index's unrouted shard bytes
    must never enter the shuffle."""
    from pyspark.sql import functions as F

    from olive_spark.ops import bloom_index

    docs = spark.range(300).selectExpr(
        "id AS doc_id", "concat('t', cast(id as string)) AS text"
    )
    idx = str(tmp_path / "bi")
    bloom_index.build_bloom_index(
        spark, docs, idx, expected_items=512, n_shards=8
    )
    # a single-row batch routes to exactly one shard
    batch = docs.limit(1)
    df = bloom_index.probe_bloom_index(spark, batch, docs, idx)
    p = plan_of(df)
    assert "FlatMapCoGroupsInPandas" in p
    # the shard-side scan carries the routed-IN filter
    assert "shard" in p and ("IN (" in p or "In(" in p or "= " in p)


def test_pq_indexed_scans_only_probed_buckets(spark, tmp_path):
    """The persisted IVF-PQ serve plan filters the bucket-partitioned
    codes table to the PROBED buckets (hive dir pruning at plan time) —
    an unprobed bucket's code bytes must never enter the ADC scan."""
    from pyspark.sql import functions as F

    from olive_spark.ops import similarity
    from olive_spark.queries import data

    corpus = data.load(spark, SF, "embeddings", columns=["vec_id", "embedding"])
    idx = str(tmp_path / "pq")
    similarity.build_pq_index(
        spark, corpus, idx, corpus_version=1, ivf_centroids=8,
    )
    qdf = data.load(spark, SF, "embeddings", columns=["vec_id", "embedding"])
    qrows = [(r["vec_id"], r["embedding"])
             for r in qdf.filter(F.col("vec_id") < 2).collect()]
    corpus2 = data.load(spark, SF, "embeddings", columns=["vec_id", "embedding"])
    df = similarity.pq_topk_indexed(
        spark, idx, corpus2, qrows, k=5, n_probe=2, expect_corpus_version=1,
    )
    p = plan_of(df)
    # the codes scan carries the probed-bucket IN filter (2 queries ×
    # n_probe=2 ≤ 4 of 8 buckets) and stays Arrow-batched
    assert "bucket" in p and ("IN (" in p or "In(" in p or "isin" in p), p
    assert "MapInArrow" in p or "PythonMapInArrow" in p, p
    assert "BatchEvalPython" not in p


def test_key_join_dv_stage_keeps_files_in_one_task(spark, tmp_path, monkeypatch):
    """The fused key-join discovery (merge / txn merge) hands the DV
    stager (file, pos) pairs whose rows for one file share a partition:
    with broadcast keys the semi-join keeps the scan's whole-file
    partitions (no shuffle exchange at all); with a shuffled join the
    matched pairs are repartitioned by file.  Either way the staged DVs
    match exactly the key-matched rows."""
    import glob
    import os

    from olive_spark import register_olive
    from olive_spark.ops import maintenance as M

    register_olive(spark)
    path = str(tmp_path / "t")
    spark.range(1000).selectExpr("id AS k", "id*2 AS v").repartition(2) \
        .write.format("olive").mode("append").save(path)
    keys = spark.range(0, 1000, 7).selectExpr("id AS k")
    seen = []
    real = M._stage_dvs

    def spy(spark_, path_, table, positions, *a, **kw):
        seen.append(plan_of(positions))
        return real(spark_, path_, table, positions, *a, **kw)

    monkeypatch.setattr(M, "_stage_dvs", spy)
    for i, bc in enumerate((True, False)):
        staged = M._discover_and_stage_dvs(
            spark, path, "data", keys, f"plan{i}", "dv", 0.0,
            key_cols=["k"], broadcast=bc,
        )
        assert sum(n for _f, _dv, n in staged) == 143
        assert all(dv is not None for _f, dv, _n in staged)
        for _f, dv, _n in staged:
            os.remove(os.path.join(path, dv) + ".staging")
    bcast, shuffled = seen
    # merge decides between the two from the source row count against
    # Spark's own threshold (a long key is sized 8 + 8 bytes a row)
    from pyspark.sql.types import LongType

    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    try:
        for conf, rows, want in (("1k", 64, True), ("1k", 65, False),
                                 ("-1", 1, False), ("10485760b", 10**5, True)):
            spark.conf.set(key, conf)
            assert M._broadcastable(spark, rows, [LongType()]) is want, conf
    finally:
        spark.conf.set(key, prior)
    assert "BatchScan olive" in bcast and "LeftSemi" in bcast
    assert "BroadcastHashJoin" in bcast
    assert "Exchange hashpartitioning" not in bcast
    assert "CartesianProduct" not in bcast
    assert "hashpartitioning(_olive_file" in shuffled
    assert not glob.glob(os.path.join(path, "_olive_dv", "**", "*.staging"),
                         recursive=True)


def test_branch_delete_stages_dvs_without_shuffle(spark, tmp_path, monkeypatch):
    """delete_on_branch stages through the table's own DV stager on the
    branch view's scan, which packs whole files per task — base files
    and branch-staged files alike — so the positions reach the stager
    with no exchange at all."""
    from olive_spark import register_olive
    from olive_spark.ops import branch
    from olive_spark.ops import maintenance as M

    register_olive(spark)
    path = str(tmp_path / "t")
    spark.range(1000).selectExpr("id AS k", "id*2 AS v").repartition(2) \
        .write.format("olive").mode("append").save(path)
    branch.create_branch(path, "b")
    branch.append_to_branch(
        spark, spark.range(1000, 1100).selectExpr("id AS k", "id*2 AS v"),
        path, "b",
    )
    seen = []
    real = M._stage_dvs

    def spy(spark_, path_, table, positions, *a, **kw):
        seen.append(plan_of(positions))
        return real(spark_, path_, table, positions, *a, **kw)

    monkeypatch.setattr(M, "_stage_dvs", spy)
    out = branch.delete_on_branch(spark, path, "b", "k % 7 = 0")
    assert out["rows_deleted"] == 158  # 0, 7, ..., 1099
    (p,) = seen
    assert "BatchScan olive" in p, p
    assert "Exchange" not in p, p
    assert branch.scan_branch(spark, path, "b").count() == 1100 - 158


def test_pagerank_round_reuses_cached_links_layout(spark, monkeypatch):
    """A pagerank round's step, captured from the real loop as it is
    checkpointed: its only shuffle is the per-dst aggregate.  The
    cached ``links`` side is read in its hash-on-src layout and never
    re-shuffled; the small ranks side is broadcast."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from olive_spark.ops.graph import pagerank

    steps = []
    real = ClassicDataFrame.localCheckpoint

    def spy(self, *a, **kw):
        p = plan_of(self)
        if "CollectMetrics" in p:  # the step carries the Observation
            steps.append(p)
        return real(self, *a, **kw)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", spy)
    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 50) for i in range(50)]
        + [(i, (i + 1) % 50) for i in range(50)],
        "src long, dst long",
    )
    assert pagerank(edges, max_iter=1).count() == 50
    (p,) = steps
    shuffles = re.findall(
        r"^\(\d+\) Exchange\n(?:.+\n)*?Arguments: (\w+\(\w+)", p, re.M
    )
    assert shuffles == ["hashpartitioning(node"], p
    assert re.search(
        r"Scan ExistingRDD\n(?:.+\n)*?Arguments: \[src#.*hashpartitioning\(src",
        p,
    ), p
    assert "BroadcastExchange" in p, p


def test_nmbs_discovery_is_anti_join_not_cartesian(spark, tmp_path):
    """NOT MATCHED BY SOURCE discovery: unmatched target rows come from
    a key anti-join — never a cartesian or broadcast-nested-loop of
    table × source."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    spark.range(500).selectExpr("id AS k", "id AS v").coalesce(2) \
        .write.format("olive").mode("append").save(path)
    src = spark.range(0, 400).selectExpr("id AS k")
    fc = "_olive_file"
    anti = (
        spark.read.format("olive").option("fileColumn", fc).load(path)
        .join(src, ["k"], "left_anti")
        .filter(F.expr("v % 2 = 0"))
        .select(fc).distinct()
    )
    p = plan_of(anti)
    assert "CartesianProduct" not in p
    assert "LeftAnti" in p


def test_substring_dedup_plan_shape(spark):
    """substring_dup_spans must stay JVM-side and slim: tokenization is
    hoisted (no per-fragment re-split), the only exchanges are the
    fragment-count groupBy, the join back, and the per-doc aggregate —
    no Python row eval, no cartesian, no window over raw rows, and
    span coverage is computed by array functions (no position
    explode)."""
    from olive_spark.ops.dedup import substring_dup_spans

    docs = spark.range(80).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 39), "
        "j -> concat('w', (id % 5) * 37 + j))) AS text",
    )
    out = substring_dup_spans(docs, width=16)  # default stride=1 (r12)
    p = plan_of(out)
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    # no Window over fragment rows: a count-over-partition(frag) would
    # be shuffle-equivalent but skew-UNSAFE (a boilerplate fragment
    # duplicated in 10M docs lands on one task with no partial agg);
    # the groupBy+join shape keeps map-side combine
    assert "Window" not in p
    # the fragment explode appears once per side of the self-join (the
    # recompute is scan-local; the dup set can't be broadcast at
    # scale).  ") Generate" matches only the detail-section node lines
    # (formatted plans print each node in the tree AND the details)
    assert 1 <= p.count(") Generate") <= 2, p
    # groupBy(frag) partial+final, join back, per-doc agg partial+final
    assert p.count("Exchange") <= 5, p


def test_phrase_search_prunes_to_phrase_token_files(spark, tmp_path):
    """Phrase search reads ONLY the posting files whose token range
    straddles the phrase tokens (same pruning as search_tokens), does
    the adjacency check with array intersects (no Python row eval, no
    re-scan of any document text), and shuffles once into the per-doc
    map."""
    from olive_spark.ops.text_index import build_text_index, search_phrase

    docs = spark.range(60).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 11), "
        "j -> concat('w', lpad(cast((id * 37 + j * 11) % 100 as string), "
        "2, '0')))) AS text",
    )
    idx = str(tmp_path / "pix")
    build_text_index(spark, docs, idx, n_files=4, positions=True)
    out = search_phrase(spark, idx, "w13 w24")
    p = plan_of(out)
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "array_intersect" in p
    assert p.count("Exchange") <= 2, p
    # token-range pruning: the two-token isin plans a strict subset of
    # the clustered posting files (same survivor probe the
    # search_tokens contract uses)
    import os as _os

    from tests.test_datasource import _surviving

    pdir = f"{idx}/postings"
    n_files = sum(
        1 for f in _os.listdir(pdir) if f.endswith(".olive")
    )
    survivors = _surviving(
        spark, pdir, [("token", "in", ["w13", "w24"])]
    )
    assert survivors < n_files, (survivors, n_files)


def test_remove_dup_spans_plan_shape(spark):
    """Span removal stays JVM-side and slim like the profiling op: no
    Python row eval, no cartesian, no window over fragment rows; the
    owner election rides the same skew-safe groupBy, and the text
    reconstruction is array functions over the joined-back removal
    offsets (no position explode)."""
    from olive_spark.ops.dedup import remove_dup_spans

    docs = spark.range(80).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 39), "
        "j -> concat('w', (id % 5) * 37 + j))) AS text",
    )
    p = plan_of(remove_dup_spans(docs, width=16))
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "Window" not in p
    # fragment explode once per self-join side, nothing else generates
    assert 1 <= p.count(") Generate") <= 2, p


def test_dsir_importance_plan_shape(spark):
    """DSIR: one bigram explode feeds both the per-doc counts and the
    corpus distributions; the bucket→log-ratio table comes back as a
    BROADCAST join (kilobytes at any corpus size), no Python eval, no
    cartesian beyond the explicit one-row totals broadcast."""
    from pyspark.sql import functions as F

    from olive_spark.ops.curation import dsir_importance

    docs = spark.range(80).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 19), "
        "j -> concat('w', (id * 7 + j) % 40))) AS text",
    )
    p = plan_of(dsir_importance(docs, F.col("doc_id") % 7 == 0))
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoop" in p, p
    # the only cartesian-shaped node allowed is the one-row totals
    # broadcast; a real cartesian would be BroadcastNestedLoop over
    # multi-row sides — pin the ratio join itself as a hash join
    assert "BroadcastHashJoin" in p, p


def test_bpe_encode_plan_shape(spark):
    """r13: BPE encode is a pure projection — Arrow-batched pandas UDF
    (never row-at-a-time BatchEvalPython), zero exchanges, zero joins;
    the count-only column keeps the same shape."""
    from pyspark.sql import functions as F

    from olive_spark.ops.tokenize import bpe_encode, bpe_token_count_col

    docs = spark.range(80).selectExpr(
        "id AS doc_id", "concat('w', id, ' tokenization scan') AS text"
    )
    p = plan_of(bpe_encode(docs))
    assert "ArrowEvalPython" in p, p
    assert "BatchEvalPython" not in p
    assert "Exchange" not in p
    assert "Join" not in p
    p2 = plan_of(docs.select(bpe_token_count_col(docs).alias("n")))
    assert "ArrowEvalPython" in p2 and "Exchange" not in p2


def test_token_budget_mix_bpe_optin_keeps_plan_contract(spark):
    """The n_tokens_col opt-in must not regress the skew-safe shape:
    still no raw-row window partitioned by source alone (the histogram
    two-phase survives with the UDF-derived count)."""
    from olive_spark.ops.curation import token_budget_mix
    from olive_spark.ops.tokenize import bpe_token_count_col

    docs = spark.range(80).selectExpr(
        "id AS doc_id", "concat('s', id % 3) AS source",
        "concat_ws(' ', transform(sequence(0, CAST(id % 9 AS INT)), "
        "j -> 'tokenization')) AS text",
    )
    p = plan_of(token_budget_mix(
        docs, 50, n_tokens_col=bpe_token_count_col(docs),
    ))
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" in p, p


def test_chunk_token_ids_plan_shape(spark):
    """Tokenized shards stay a projection: encode UDF + array slices +
    one Generate (the chunk explode) — no exchange, no join, no window."""
    from olive_spark.ops.tokenize import chunk_token_ids

    docs = spark.range(80).selectExpr(
        "id AS doc_id", "concat('w', id, ' tokenization scan') AS text"
    )
    p = plan_of(chunk_token_ids(docs, capacity=5))
    assert "ArrowEvalPython" in p, p
    assert "BatchEvalPython" not in p
    assert "Exchange" not in p
    assert "Join" not in p
    assert "Window" not in p
    assert p.count(") Generate") == 1, p


def test_zorder_two_predicate_page_opens_vs_plain_sort(spark, tmp_path):
    """r14 (VERDICT r13 task #6 'Done'): the comparative poisoned-page
    proof.  Same 256x256 grid compacted two ways at 1,024-row pages:

    - ``sort_by="x"``: an x-range prunes pages, but a y-range opens
      EVERY page (y is smeared across the whole x-sorted layout);
    - ``zorder_by=["x","y"]``: the Morton layout prunes pages on x, on
      y, and multiplicatively on both.

    Then the pages OUTSIDE the z-order selection are physically
    poisoned and the real Spark scan answers the 2-predicate query
    correctly — the engine provably never opens the skipped pages."""
    import pyarrow as pa

    from olive_spark.datasource.olive_datasource import (
        _list_chunk_files,
        _pick_table,
        _read_header_bytes,
    )
    from olive_spark.format.reader import select_pages
    from olive_spark.format import write_chunk
    from olive_spark.ops.maintenance import compact

    n = 256
    t = pa.table({
        "x": pa.array([i % n for i in range(n * n)], pa.int64()),
        "y": pa.array([i // n for i in range(n * n)], pa.int64()),
    })

    def build(d, **kw):
        d.mkdir()
        (d / "part-0.olive").write_bytes(write_chunk({"data": t}))
        compact(spark, str(d), target_rows=n * n, page_rows=1024, **kw)
        return str(d)

    sorted_d = build(tmp_path / "s", sort_by="x")
    zorder_d = build(tmp_path / "z", zorder_by=["x", "y"])

    def pages_opened(path, preds):
        hit = total = 0
        for fp in _list_chunk_files(path):
            header, _ = _read_header_bytes(fp)
            th = _pick_table(header, "data")
            sel = select_pages(th, preds)
            n_pages = len(th.fields[0].stats["min"])
            total += n_pages
            hit += n_pages if sel is None else len(sel)
        return hit, total

    # x covers a QUARTER of the axis (a realistic coarse first
    # predicate), y an eighth — the shape where a 1-D sort's second
    # column is pure dead weight
    both = [("x", ">=", 0), ("x", "<=", 63), ("y", ">=", 8), ("y", "<=", 15)]
    y_only = [("y", ">=", 8), ("y", "<=", 15)]
    hit_s_both, total_s = pages_opened(sorted_d, both)
    hit_z_both, total_z = pages_opened(zorder_d, both)
    hit_s_y, _ = pages_opened(sorted_d, y_only)
    hit_z_y, _ = pages_opened(zorder_d, y_only)
    assert total_s == total_z == 64
    # plain sort: the y predicate can't prune a single page
    assert hit_s_y == total_s, (hit_s_y, total_s)
    # z-order prunes on the SECOND column alone...
    assert hit_z_y <= total_z // 4, (hit_z_y, total_z)
    # ...and multiplicatively on both: the 64x8 box is 1/128 of the
    # data; a handful of 1,024-row pages must survive
    assert hit_z_both <= 8, (hit_z_both, total_z)
    # plain sort prunes the x-quarter but opens its FULL y extent —
    # every page the x-range keeps, 2x+ the z-order cost
    assert hit_s_both == total_s // 4, (hit_s_both, total_s)
    assert hit_s_both >= 2 * hit_z_both, (hit_s_both, hit_z_both)

    # ---- poisoned-page proof: corrupt every non-selected page in the
    # z-order layout; the pushdown scan must still answer exactly
    fp = _list_chunk_files(zorder_d)[0]
    header, data_off = _read_header_bytes(fp)
    th = _pick_table(header, "data")
    sel = set(select_pages(th, both))
    blob = bytearray(open(fp, "rb").read())
    poisoned = 0
    for field in th.fields:
        for meta in field.buffers.values():
            for i, p in enumerate(meta.pages):
                if i in sel:
                    continue
                start = data_off + p.offset
                blob[start:start + p.compressed_size] = bytes(
                    b"\xde" * p.compressed_size
                )
                poisoned += 1
    assert poisoned >= 100
    open(fp, "wb").write(bytes(blob))
    got = (
        spark.read.format("olive").option("pushdown", "true")
        .load(zorder_d)
        .filter("x BETWEEN 0 AND 63 AND y BETWEEN 8 AND 15")
        .groupBy().agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
                       F.sum("y").alias("sy"))
        .collect()[0]
    )
    # 64 x-values * 8 y-values; sum(x)=8*sum(0..63), sum(y)=64*sum(8..15)
    assert (got["n"], got["sx"], got["sy"]) == (512, 8 * 2016, 64 * 92)
    # control: a query needing a poisoned page fails (poison is real)
    with pytest.raises(Exception):
        spark.read.format("olive").option("pushdown", "true") \
            .load(zorder_d).filter("x = 200 AND y = 200").collect()


def test_hilbert_expr_matches_reference_and_prunes(spark, tmp_path):
    """r14: Hilbert clustering (compact curve='hilbert') — the JVM fold
    must equal the public xy2d algorithm exactly, and the clustered
    layout must prune pages on BOTH dimensions like z-order (Hilbert's
    unit-step curve has no Morton quadrant-seam jumps, so box-query
    page opens are the same or tighter)."""
    import pyarrow as pa

    from olive_spark.datasource.olive_datasource import (
        _list_chunk_files,
        _pick_table,
        _read_header_bytes,
    )
    from olive_spark.format import write_chunk
    from olive_spark.format.reader import select_pages
    from olive_spark.ops.maintenance import _hilbert_expr, compact

    def xy2d(order, x, y):
        d = 0
        s = 1 << (order - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    # exact parity on a 32x32 grid at order 5
    df = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], "x long, y long"
    )
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.select(
            "x", "y", _hilbert_expr([F.col("x"), F.col("y")], 5).alias("d")
        ).collect()
    }
    for (x, y), d in got.items():
        assert d == xy2d(5, x, y), (x, y, d)

    # clustered layout prunes pages on both dimensions
    n = 256
    t = pa.table({
        "x": pa.array([i % n for i in range(n * n)], pa.int64()),
        "y": pa.array([i // n for i in range(n * n)], pa.int64()),
    })
    d = tmp_path / "hil"
    d.mkdir()
    (d / "part-0.olive").write_bytes(write_chunk({"data": t}))
    compact(spark, str(d), target_rows=n * n, page_rows=1024,
            zorder_by=["x", "y"], curve="hilbert")

    def pages_opened(preds):
        hit = total = 0
        for fp in _list_chunk_files(str(d)):
            header, _ = _read_header_bytes(fp)
            th = _pick_table(header, "data")
            sel = select_pages(th, preds)
            n_pages = len(th.fields[0].stats["min"])
            total += n_pages
            hit += n_pages if sel is None else len(sel)
        return hit, total

    hit_x, total = pages_opened([("x", ">=", 8), ("x", "<=", 15)])
    hit_y, _ = pages_opened([("y", ">=", 8), ("y", "<=", 15)])
    hit_both, _ = pages_opened(
        [("x", ">=", 0), ("x", "<=", 63), ("y", ">=", 8), ("y", "<=", 15)]
    )
    assert total == 64
    assert hit_x <= total // 4, (hit_x, total)
    assert hit_y <= total // 4, (hit_y, total)
    assert hit_both <= 8, (hit_both, total)
    # content exact after the rewrite
    back = spark.read.format("olive").load(str(d))
    assert back.count() == n * n
    assert back.agg(F.sum("x"), F.sum("y")).collect()[0] == (
        n * n * (n - 1) // 2, n * n * (n - 1) // 2,
    )
    # unknown curve fails loud
    with pytest.raises(ValueError, match="curve"):
        compact(spark, str(d), zorder_by=["x", "y"], curve="peano")
