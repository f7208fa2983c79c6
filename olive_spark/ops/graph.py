"""Distributed connected components for dedup clustering.

The reference implements nothing graph-shaped (it is a file format,
/root/reference/src/root.zig:9-16); this is north-star pipeline
machinery: near-dup *pairs* (minhash/simhash/fingerprint buckets) only
become actionable when merged into clusters ("keep one doc per
component").

Two interchangeable algorithms, same fixpoint (cluster = min reachable
node id):

- ``label`` (default) — iterative min-label propagation, one
  join+groupBy per round, O(diameter) rounds.  Dedup graphs are unions
  of near-cliques (diameter 2-4), where this measures ~8× faster than
  star (1.9 s vs 16 s on the sf0.1 documents fingerprint graph): far
  fewer shuffles per round and convergence in ~3 rounds.
- ``star`` — alternating large-star/small-star rounds (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14).  Two
  join+groupBy passes per round but O(log n) rounds REGARDLESS of
  component diameter — the safe choice when components can be long
  chains (e.g. transitively-linked session graphs), where min-label
  would need one round per hop.

Both cut lineage with localCheckpoint each round and detect convergence
with a checksum aggregate instead of a second join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    checkpoint_every: int = 1,
    algorithm: str = "label",
) -> DataFrame:
    """(src, dst) undirected edge list → (node, cluster) with cluster =
    min node id reachable.  Nodes are whatever appears in the edge list
    (callers add self-loops for isolated nodes they want labeled)."""
    if algorithm == "label":
        return _cc_label(edges, max_iter, checkpoint_every)
    if algorithm == "star":
        return _cc_star(edges, max_iter, checkpoint_every)
    raise ValueError(f"unknown algorithm {algorithm!r} (star|label)")


def _swap(e: DataFrame) -> DataFrame:
    return e.select(F.col("b").alias("a"), F.col("a").alias("b"))


def _edge_checksum(e: DataFrame):
    row = e.agg(
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0]
    return (row["s"], row["n"])


def _cc_star(edges: DataFrame, max_iter: int, checkpoint_every: int) -> DataFrame:
    """Large-star/small-star alternation.

    large-star: every node's strictly-LARGER neighbors re-attach to its
    minimum neighborhood member; small-star: every node's ≤ neighbors
    re-attach likewise.  Alternating the two contracts any component to
    a star centered on its minimum id in O(log n) rounds; the final
    edge set IS the (node → cluster) mapping.  Self-loops seed isolated
    nodes and keep star centers labeled."""

    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("src").alias("a"), F.col("src").alias("b")))
        .distinct()
        # eager cut of the caller's edge-derivation lineage (scan +
        # fingerprint window): every round's checksum action would
        # otherwise recompute it from the source
        .localCheckpoint(eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(_swap(e))
        mins = sym.groupBy("a").agg(F.min("b").alias("m"))
        mins = mins.select("a", F.least("m", F.col("a")).alias("m"))
        bigger = (
            sym.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        return bigger.union(mins.select("a", F.col("m").alias("b"))).distinct()

    def small_star(e: DataFrame) -> DataFrame:
        sym = e.union(_swap(e))
        d = sym.filter(F.col("b") <= F.col("a"))
        mins = d.groupBy("a").agg(F.min("b").alias("m"))
        moved = (
            d.join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        return moved.union(mins.select("a", F.col("m").alias("b"))).distinct()

    prev = _edge_checksum(e)
    for i in range(max_iter):
        e = small_star(large_star(e))
        if checkpoint_every and (i % checkpoint_every == 0):
            e = e.localCheckpoint(eager=False)
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    # converged: every (a, b) points at the component minimum; the min
    # per node guards against the final round's transient duplicates
    return (
        e.groupBy("a")
        .agg(F.min("b").alias("cluster"))
        .select(F.col("a").alias("node"), "cluster")
    )


def _cc_label(edges: DataFrame, max_iter: int, checkpoint_every: int) -> DataFrame:
    """Min-label propagation (see module docstring).

    Two scale-critical choices: the symmetrized edge list is PERSISTED —
    it is joined every round, and without a cache each round would
    re-run the upstream pipeline that produced the edges (for dedup
    that is the whole fingerprint/LSH scan); and convergence is detected
    by a label-checksum aggregate instead of a second join per round.
    Labels are monotone non-increasing (the self-loop puts each node's
    own label into its min), so an unchanged label-sum between rounds
    is a sound fixpoint witness — one cheap agg replaces a full
    prop-vs-labels equi-join."""
    from pyspark import StorageLevel

    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(edges.select(F.col("src").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = sym.groupBy("src").agg(F.min("dst").alias("label")) \
        .withColumnRenamed("src", "node")

    def _checksum(df: DataFrame):
        # decimal(38,0) sum: overflow-safe for arbitrary long ids
        row = df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        ).collect()[0]
        return (row["s"], row["n"])

    prev = _checksum(labels)
    for i in range(max_iter):
        # propagate: each node adopts the min label among itself and
        # its neighbors' current labels
        prop = (
            sym.join(labels, sym.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        if checkpoint_every and (i % checkpoint_every == 0):
            prop = prop.localCheckpoint(eager=False)
        cur = _checksum(prop)
        labels = prop
        if cur == prev:
            break
        prev = cur
    sym.unpersist(blocking=False)
    return labels.select("node", F.col("label").alias("cluster"))


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1.0e-6,
) -> DataFrame:
    """(src, dst) DIRECTED edge list → (node, rank): standard power
    iteration (Page/Brin; the Google matrix with uniform teleport and
    dangling-mass redistribution), the authority score a curation
    pipeline uses to weight domains/documents by link structure.

    rank' = (1−d)/N + d·(Σ_in rank/outdeg + dangling_mass/N)

    100 TB shape per round: ranks are a slim (node, rank) frame; the
    contribution join maps them onto an edge list that carries its
    out-degree (computed once, persisted hash-partitioned + sorted on
    src so the join re-uses its layout every round — r16; the edge
    side never re-shuffles or re-sorts after the cache fills).  A
    round therefore moves only slim data: the ranks side of the join
    (the checkpoint returns UnknownPartitioning, so it re-clusters to
    the cached edge layout) and the per-dst transpose — per-dst
    contributions UNION a zero-row per node (which
    carries the previous rank and the static dangling flag through the
    same aggregate) → a single partial→final groupBy.  The round is
    also ONE JOB (r15): the convergence delta and the next round's
    dangling mass ride the SAME job as ``Observation`` metrics on the
    step (guide §1.2 — don't run a second pass for numbers the first
    pass already saw), where r14 ran a separate shuffle-free aggregate
    over the checkpointed step per round (measured 7.5 → 5.0 s on the
    5k-node driver graph, identical ranks at 6 decimals).  Per-round
    stage count, not per-node state, is what dominates at both toy and
    cluster scale.  Lineage is cut every round with localCheckpoint;
    iteration stops at ``tol`` total L1 change or ``max_iter``.  Ranks
    sum to 1 (±float error) at every step.

    Parallel edges contribute once (deduplicated — PageRank on a
    simple graph); self-loops count like any edge.

    The per-round state is ~16 bytes/node, so the conf-default shuffle
    width (sized for fact-table scans) overshoots by orders of
    magnitude and the loop pays pure task/stage latency for it.  The
    op scopes ``spark.sql.shuffle.partitions`` to ~250k edges per
    partition for its own actions (never above the session setting —
    cluster sizing is respected) and restores the conf on exit; like
    every conf-scoping op here, it assumes the session isn't running
    concurrent queries mid-call."""
    spark = edges.sparkSession
    saved_p = spark.conf.get("spark.sql.shuffle.partitions")
    raw_n = edges.count()
    scoped_p = min(int(saved_p), max(2, raw_n // 250_000 + 1))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(scoped_p))
        return _pagerank_body(edges, damping, max_iter, tol)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_p)


def _persist_links(links: DataFrame) -> DataFrame:
    """Materialize the static per-round join input HASH-PARTITIONED AND
    SORTED on ``src`` (r16, guide §2.4): the per-round ``links ⋈
    ranks`` sort-merge join's distribution AND ordering requirements
    are then already satisfied on the edge side, so the only data that
    moves per round is the slim (node, rank) frame — the r15 shape
    re-shuffled and re-sorted the FULL edge list every iteration
    (plain ``persist()`` reports UnknownPartitioning through an
    AQE-compiled cached plan, so the planner could never reuse the
    layout).  Two mechanics notes, both measured r16:

    - ``localCheckpoint`` (not persist): Spark records the physical
      plan's partitioning/ordering on the checkpoint's LogicalRDD, and
      EnsureRequirements honors it — the cached-relation path hides it.
    - AQE is scoped OFF for this one materialization: checkpointing an
      AdaptiveSparkPlan records UnknownPartitioning (the final plan's
      layout isn't exposed through the wrapper), which would silently
      re-introduce the per-round edge shuffle.  The loop itself runs
      with the session's AQE setting untouched.

    The checkpoint also gives the planner REAL size stats for links,
    and each round's checkpointed ranks likewise — so the join picks
    broadcast for small rank frames and a ranks-side-only shuffle for
    big ones, both without moving the edges.  At cluster scale this
    converts the loop's dominant per-round exchange (edge-sized) into
    a one-time cost paid at materialization."""
    spark = links.sparkSession
    aqe_key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(aqe_key)
    try:
        spark.conf.set(aqe_key, "false")
        return (
            links.repartition("src").sortWithinPartitions("src")
            .localCheckpoint()
        )
    finally:
        spark.conf.set(aqe_key, prev)


def _pagerank_body(
    edges: DataFrame, damping: float, max_iter: int, tol: float
) -> DataFrame:
    from pyspark.sql import Observation

    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).dropDuplicates(["src", "dst"])
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct().persist()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    links = _persist_links(e.join(outdeg, "src"))
    # the DANGLING MEMBERSHIP is static — flag it on the node frame
    # once; deriving it per round through `outdeg`'s unpersisted
    # lineage re-ran the full edge dedup + degree shuffle every
    # iteration (measured: the dominant cost of the loop at 5k nodes)
    flagged = nodes.join(
        outdeg.select(F.col("src").alias("node"),
                      F.lit(True).alias("__has_out")),
        "node", "left",
    ).select(
        "node", F.coalesce(F.col("__has_out"), F.lit(False)).alias("__out")
    ).persist()
    # ONE setup aggregate gives n and the dangling count together (r15:
    # was nodes.count() + a filtered count — two jobs); materializing
    # `flagged` also materializes `nodes` and most of `links`' lineage
    row0 = flagged.agg(
        F.count("*").alias("__n"),
        F.sum(F.when(~F.col("__out"), 1).otherwise(0)).alias("__nd"),
    ).collect()[0]
    n = int(row0["__n"])
    n_dang = int(row0["__nd"] or 0)
    if n == 0:
        out = nodes.withColumn("rank", F.lit(0.0)).localCheckpoint()
        nodes.unpersist()
        flagged.unpersist()
        return out
    # the iterated state carries (node, rank, __out): the dangling
    # flag rides through every step's aggregate so no round ever joins
    # a static frame after the shuffle
    ranks = flagged.select(
        "node", F.lit(1.0 / n).alias("rank"), "__out"
    ).localCheckpoint()
    base = (1.0 - damping) / n
    # dangling mass at round 0 is exact from the uniform start; every
    # later round reads it from the Observation metrics of the step
    # job itself — ONE job per round (the eager checkpoint), no second
    # pass.  (History: r12 measured a LAZY checkpoint folded into a
    # separate convergence aggregate ~20% SLOWER than eager two-job;
    # r15's observe() keeps the clean eager pipelined job AND drops
    # the second job — 7.5 → 5.0 s on the 5k-node driver graph.)
    dang = n_dang / float(n)
    for it in range(int(max_iter)):
        contrib = links.join(
            ranks.select("node", "rank"), links["src"] == F.col("node")
        ).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("__deg")).alias("__c"),
            F.lit(None).cast("boolean").alias("__out"),
            F.lit(None).cast("double").alias("__old"),
        )
        zeros = ranks.select(
            "node", F.lit(0.0).alias("__c"), "__out",
            F.col("rank").alias("__old"),
        )
        # Observation names must be unique per session — uuid it
        import uuid as _uuid

        obs = Observation(f"__pr_step_{_uuid.uuid4().hex[:12]}")
        stepped = (
            contrib.unionByName(zeros)
            .groupBy("node")
            .agg(
                F.sum("__c").alias("__in"),
                F.max("__out").alias("__out"),
                F.max("__old").alias("__old"),
            )
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.col("__in") + F.lit(dang / n))
                ).alias("rank"),
                "__out",
                "__old",
            )
            .observe(
                obs,
                F.sum(F.abs(F.col("rank") - F.col("__old")))
                .alias("__delta"),
                F.coalesce(
                    F.sum(F.when(~F.col("__out"), F.col("rank"))),
                    F.lit(0.0),
                ).alias("__dang"),
            )
            .localCheckpoint()
        )
        row = obs.get  # filled by the checkpoint job just run
        ranks = stepped.select("node", "rank", "__out")
        dang = row["__dang"]
        if row["__delta"] is not None and row["__delta"] < tol:
            break
    ranks = ranks.select("node", "rank")
    # links is a localCheckpoint: its blocks are reclaimed by the
    # ContextCleaner once the frame is unreachable (no cache entry to drop)
    flagged.unpersist()
    nodes.unpersist()
    return ranks
