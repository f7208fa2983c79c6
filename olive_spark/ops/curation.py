"""Corpus-curation operators for large-scale training-data pipelines.

The reference implements none of these (it is a file format,
/root/reference/src/root.zig:9-16); they are the north-star extensions
the engine adds on top of the olive scan.  Everything here stays
JVM-side (built-in pyspark.sql.functions — regexp, split, explode,
aggregates); there are no Python UDFs, so at 100 TB each operator is a
scan + at most one shuffle:

- ``pii_redact``           scan-only (per-row regexp, no shuffle)
- ``stratified_sample``    scan-only (deterministic modulo predicate —
                           reproducible across runs/engines, unlike
                           ``df.sample`` whose RNG is partition-layout
                           dependent)
- ``vocab_topk``           one shuffle on word (map-side partial agg
                           shrinks it to |vocab| per partition)
- ``bigram_topk``          same, on word pairs
- ``contamination_check``  broadcast hash-semi-join: the benchmark
                           fingerprint set is tiny (eval suites are
                           thousands of rows) while the corpus is the
                           100 TB side — never shuffle the corpus
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PHONE_RE = "555-[0-9]+"


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask email/phone patterns; adds ``redacted`` + per-kind match
    counts (the counts let a pipeline route docs to review queues)."""
    emails = F.size(F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_RE), F.lit(0)))
    phones = F.size(F.regexp_extract_all(F.col(text_col), F.lit(PHONE_RE), F.lit(0)))
    red = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return df.withColumn("n_emails", emails).withColumn("n_phones", phones) \
        .withColumn("redacted", red)


def stratified_sample(
    df: DataFrame, stratum_col: str, key_col: str, rates: dict[str, int],
    default_rate: int = 0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep rows with
    ``key % 100 < rate[stratum]``.  Modulo on a stable key (not rand())
    makes the sample identical on every run, engine, and partitioning —
    a requirement for reproducible training mixes."""
    rate: Column = F.lit(default_rate)
    for value, r in rates.items():
        rate = F.when(F.col(stratum_col) == value, F.lit(r)).otherwise(rate)
    return df.filter((F.col(key_col) % 100) < rate)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_col: str,
    descending: bool = True,
    tiebreak_col: "str | None" = None,
    n_salts: int = 16,
) -> DataFrame:
    """Keep at most ``n`` rows per ``group_col`` value, preferring the
    best ``order_col`` (ties broken by ``tiebreak_col`` ascending for a
    deterministic, engine-reproducible cut) — the per-domain quota cap
    every crawl-curation pipeline applies (C4/RefinedWeb cap docs per
    registered domain so megasites don't dominate the mix).

    Skew-safe by construction: a single ``Window.partitionBy(group)``
    would serialize a hot domain (10⁸ rows of one site → one task).
    Instead phase 1 ranks within (group, salt) — ``n_salts`` parallel
    tasks per group, each keeping its local top-``n`` — and phase 2
    re-ranks only those ≤ ``n_salts × n`` survivors per group.  Exact:
    the global top-``n`` of a group is contained in the union of its
    per-salt top-``n``s.  Two narrow shuffles, output identical to the
    naive single window (pytest-pinned).

    Requires a non-null ``tiebreak_col`` unique within a group (any
    stable id) when exactness under ``order_col`` ties matters."""
    if "__rn" in df.columns:
        raise ValueError(
            "cap_per_group uses '__rn' internally — rename the input "
            "column (it would be silently destroyed otherwise)"
        )
    tb = tiebreak_col or order_col
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    salt = F.pmod(F.xxhash64(F.col(tb)), F.lit(n_salts))
    w1 = Window.partitionBy(F.col(group_col), salt).orderBy(oc, F.col(tb))
    local = (
        df.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )
    w2 = Window.partitionBy(group_col).orderBy(oc, F.col(tb))
    return (
        local.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def words(text_col: str) -> Column:
    """Whitespace tokenization with empty tokens dropped."""
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")


def vocab_topk(df: DataFrame, text_col: str = "text", k: int = 40) -> DataFrame:
    """Corpus vocabulary histogram, top-k by count (ties broken by word
    for determinism)."""
    return (
        df.select(F.explode(words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(k)
    )


def bigram_topk(df: DataFrame, text_col: str = "text", k: int = 30) -> DataFrame:
    """Word-bigram histogram, top-k.  Bigrams built with a higher-order
    array transform (JVM-side), not a UDF."""
    # tokenize in its own projection: transform lambdas run interpreted,
    # and element_at(words(...), i) inside the lambda would re-run the
    # regex split per bigram slot instead of once per row
    t = df.select(words(text_col).alias("__w")).filter(F.size("__w") >= 2)
    wc = F.col("__w")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(wc) - 2),
        lambda i: F.concat_ws(" ", F.element_at(wc, i + 1), F.element_at(wc, i + 2)),
    )
    return (
        t.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    chunk: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping ``chunk``-token windows every
    ``stride`` tokens — the context-window preparation step for
    training/RAG pipelines (overlap = chunk - stride tokens keeps
    boundary-spanning context in some window).  One projection +
    explode, zero shuffles, JVM-only: tokenization happens ONCE per
    document in its own projection (interpreted higher-order lambdas
    re-evaluate captured expressions, see bigram_topk), window starts
    come from ``sequence``, slices stay array ops.  A final short
    window survives only when it adds tokens no earlier window covered
    — a start whose predecessor already reached the document end would
    be a strict subset of that predecessor (duplicated training text,
    not tail coverage), so starts stop there.  Empty documents yield
    one empty chunk so row provenance is preserved (callers filter
    ``n_chunk_tokens > 0`` to drop them)."""
    if stride < 1 or chunk < 1:
        raise ValueError("chunk and stride must be >= 1")
    t = df.select(F.col(id_col), words(text_col).alias("__w"))
    wc = F.col("__w")
    # emit start s iff s == 0 or its predecessor stopped short of the
    # end: s - stride + chunk < size → inclusive bound size-chunk+stride-1.
    # Clamped to size-1: with stride > chunk (gap sampling) the formula
    # exceeds the array, which would mint a spurious empty chunk for a
    # NON-empty document and break the provenance contract below
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.least(F.size(wc) - chunk + stride - 1, F.size(wc) - 1),
            F.lit(0),
        ),
        F.lit(stride),
    )
    exploded = t.select(
        F.col(id_col), wc, F.explode(starts).alias("chunk_start")
    )
    piece = F.slice(wc, F.col("chunk_start") + 1, chunk)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_start"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
    max_overlap_pct: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram-overlap benchmark decontamination (the GPT-3-appendix /
    13-gram-style check): for every corpus doc, the fraction of its
    DISTINCT word n-grams that appear anywhere in the benchmark set;
    docs over ``max_overlap_pct`` are flagged.  Catches partial and
    paraphrased-with-shared-spans leakage that the whole-prefix
    fingerprint of :func:`contamination_check` misses.

    Plan shape (100 TB corpus, small eval suites): the benchmark's
    distinct n-grams broadcast; the corpus tokenizes once per doc
    (JVM transform — no UDF), explodes its distinct n-grams, LEFT
    broadcast-joins the benchmark set, and ONE map-side-combined
    aggregation on doc id produces total and matched counts together —
    the corpus is never shuffled except as slim (id, count) pairs, and
    no second scan or join-back is needed.  The flag compare is
    integer-cleared (``matched·100 ≥ pct·total``) so the oracle hash is
    bit-stable.  Docs with fewer than ``n`` tokens have no n-grams and
    are absent from the output (nothing to leak).

    Returns (id_col, total_ngrams, matched_ngrams, flagged)."""
    if n < 1:
        raise ValueError("n must be >= 1")

    def grams(df):
        t = df.select(F.col(id_col), words(text_col).alias("__w"))
        wc = F.col("__w")
        g = F.transform(
            F.sequence(F.lit(1), F.size(wc) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(wc, i, n)),
        )
        return (
            t.filter(F.size(wc) >= n)
            .select(F.col(id_col), F.explode(F.array_distinct(g)).alias("__g"))
        )

    bench = grams(benchmark).select(F.col("__g").alias("__bg")).distinct()
    joined = grams(corpus).join(
        F.broadcast(bench), F.col("__g") == F.col("__bg"), "left"
    )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("total_ngrams"),
        F.count("__bg").alias("matched_ngrams"),
    ).withColumn(
        "flagged",
        F.col("matched_ngrams") * 100 >= F.lit(int(max_overlap_pct)) * F.col("total_ngrams"),
    )


def dedup_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Intra-document line deduplication (RefinedWeb/CCNet-style
    repetition removal): keep the FIRST occurrence of each line, drop
    later repeats, report how much was removed.  ``array_distinct``
    preserves first-occurrence order, so the whole operator is one
    scan-local projection — zero shuffles, zero UDFs, trivially
    100 TB-safe (each doc is handled inside its scan partition).

    Returns (id_col, n_lines, n_unique, cleaned)."""
    lines = F.split(F.col(text_col), "\n")
    uniq = F.array_distinct(lines)
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(uniq).alias("n_unique"),
        F.array_join(uniq, "\n").alias("cleaned"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate removal: a line appearing in at least
    ``min_docs`` DISTINCT documents (headers, footers, cookie banners,
    nav text) is deleted from every document; per-doc line order is
    preserved for the survivors.

    Plan shape: explode (id, pos, line) once; the frequent-line set is
    a map-side-combined distinct count on line (slim — the shuffle
    carries (line, id) pairs once each, and partial aggregation
    collapses within-partition repeats); survivors re-assemble per doc
    via sorted collect (bounded by document length, the same per-key
    bound every whole-doc operator here carries).  The frequent set
    broadcasts: its size is bounded by total_lines / min_docs, so a
    meaningful threshold keeps it tiny relative to the corpus.  Docs
    whose every line was boilerplate drop out of the result (nothing
    left to train on).

    Returns (id_col, n_kept, cleaned)."""
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
        )
    )
    frequent = (
        lines.groupBy("__line")
        .agg(F.count_distinct(F.col(id_col)).alias("__docs"))
        .filter(F.col("__docs") >= min_docs)
        .select("__line")
    )
    kept = lines.join(F.broadcast(frequent), "__line", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("__pos"), F.col("__line")))
                    ),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias("cleaned"),
        )
    )


def pack_sequences_sharded(
    df: DataFrame,
    capacity: int = 4096,
    shard_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens_col: "Column | None" = None,
) -> DataFrame:
    """Partition-wise sequence packing — the 100 TB variant of the
    global-cumsum packing in queries.pipeline.llm_pack_sequences.

    Docs are assigned to fixed id-range shards (``shard =
    floor(id / shard_size)``); each shard packs independently by
    cumulative token count in doc-id order, and shard-local pack ids are
    made globally unique by offsetting with the total pack count of all
    earlier shards.  Pack boundaries therefore restart at shard edges
    (each shard occupies ``max(1, ceil(shard_tokens / capacity))``
    packs) — the deterministic, layout-independent semantics a resumable
    pretraining pipeline wants, and the contract the DuckDB oracle
    reproduces exactly.

    Plan shape vs the global variant: the global variant's
    ``Window.orderBy`` funnels every row through ONE task (an
    ``Exchange SinglePartition`` in the plan — the serialization the
    VERDICT r6 audit flagged).  Here the row-level window partitions by
    shard, so the cumsum parallelizes across ``n_docs / shard_size``
    tasks; the only driver traffic is the slim pre-pass of per-shard
    token totals (one row per shard — at 10^11 docs with 10^6-doc
    shards that is 10^5 rows), whose prefix sum becomes a broadcast
    (shard → pack_off) map.  The plan contract in tests/test_plans.py
    asserts the returned plan contains no SinglePartition exchange.
    Within-shard cumsums are bounded by shard_size × max doc length, so
    the float floor in pack-id math stays far below the 2^52 precision
    edge regardless of corpus size.

    Returns (id_col, n_tokens, pack_id) per document.

    ``n_tokens_col`` (r13): optional Column overriding the whitespace
    token count — the model-accurate opt-in, e.g.
    ``tokenize.bpe_token_count_col(df)`` for BPE subword packing.
    """
    if capacity < 1 or shard_size < 1:
        raise ValueError("capacity and shard_size must be >= 1")
    n_tok = (
        n_tokens_col if n_tokens_col is not None
        else F.size(words(text_col))
    )
    toks = df.select(
        F.col(id_col),
        F.floor(F.col(id_col) / shard_size).cast("long").alias("__shard"),
        n_tok.cast("int").alias("n_tokens"),
    )
    # slim pre-pass: one row per shard; prefix over shards on the driver
    totals = toks.groupBy("__shard").agg(F.sum("n_tokens").alias("__total"))
    shard_rows = sorted(
        (r["__shard"], int(r["__total"] or 0)) for r in totals.collect()
    )
    offsets, acc = [], 0
    for shard, total in shard_rows:
        offsets.append((shard, acc))
        acc += max(1, (total + capacity - 1) // capacity)
    off_df = df.sparkSession.createDataFrame(
        offsets, schema="__shard long, __pack_off long"
    ) if offsets else df.sparkSession.createDataFrame(
        [], schema="__shard long, __pack_off long"
    )
    w = (
        Window.partitionBy("__shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        toks.join(F.broadcast(off_df), "__shard")
        .withColumn(
            "pack_id",
            (F.col("__pack_off") + F.floor(cum / capacity)).cast("long"),
        )
        .select(id_col, "n_tokens", "pack_id")
    )


def prefix_fingerprint(text_col: str, n_words: int = 8) -> Column:
    """Fingerprint = first n words rejoined — catches boilerplate and
    benchmark leakage that md5-exact matching misses."""
    return F.array_join(F.slice(F.split(F.col(text_col), " "), 1, n_words), " ")


def contamination_check(
    corpus: DataFrame, benchmark: DataFrame, text_col: str = "text",
    n_words: int = 8,
) -> DataFrame:
    """Count corpus docs per source whose prefix fingerprint appears in
    the benchmark set.  The benchmark side is broadcast — the corpus
    (the 100 TB side) is never shuffled."""
    fp = prefix_fingerprint(text_col, n_words)
    bench_fp = benchmark.select(fp.alias("h")).distinct()
    return (
        corpus.withColumn("h", fp)
        .join(F.broadcast(bench_fp), "h", "inner")
        .groupBy("source")
        .agg(F.count("*").alias("n_contaminated"))
    )


def token_budget_mix(
    df: DataFrame, budget_per_source: int,
    text_col: str = "text", source_col: str = "source", id_col: str = "doc_id",
    hot_bucket_rows: int = 4_000_000,
    n_tokens_col: "Column | None" = None,
) -> DataFrame:
    """Training-mixture sampling: per source, take documents in
    deterministic priority order (longest first, id as tiebreak) until
    the source's token budget is reached.  The at-scale shape of
    "up-sample small high-quality sources, cap the crawl dump".
    Returns (source, doc_id, n_tokens, cum_tokens).

    Skew-safe two-phase plan (the r6 audit flagged the original
    single ``Window.partitionBy(source)`` — it funnels every row of a
    source into ONE task, and the capped crawl-dump source is exactly
    the billion-row side):

    1. *Slim histogram*: aggregate to one row per (source, n_tokens)
       with the bucket's token mass — map-side combine shrinks the
       shuffle to |sources| × |distinct lengths|.  A per-source window
       over these AGGREGATED rows computes each bucket's
       strictly-longer-prefix mass; buckets whose first row would
       already cross the budget (``before + n_tokens > budget``) are
       dropped — at 100 TB with budget ≪ corpus this prunes the crawl
       tail before any row-level sort or wide shuffle.
    2. *Boundary ranking*: only surviving rows join back (the join
       shuffle on (source, n_tokens) is reused by the window — no
       extra exchange) and rank by id WITHIN their (source, n_tokens)
       bucket; since every row in a bucket has the same length v,
       ``cum_tokens = before + v·rank`` reproduces the original
       running sum exactly, and no window ever partitions a raw-row
       stream by source alone (plan contract in tests/test_plans.py).

    Hot-bucket auto-mitigation (r7 audit — previously a docstring-only
    caveat): a single (source, length) pair with billions of rows
    (fixed-length records) would still rank in one task.  Rows carry a
    deterministic id-range group ``__grp`` — ``floor(id / W)`` for
    buckets over ``hot_bucket_rows`` rows, the constant 0 for cold
    buckets — and ONE unified two-pass ranking runs for all of them:
    rank locally within (source, n_tokens, grp), add the bucket's
    lower-group row counts (a slim one-row-per-group aggregate) as the
    offset.  Cold buckets have a single group, so offset = 0 and the
    local rank IS the r6/r7 single-window rank; hot buckets split into
    ≤ hot/64-id groups that rank in parallel.  ``grp`` is a pure
    function of the row, so every evaluation of the lineage agrees on
    it (a ``spark_partition_id`` after ``repartitionByRange`` would
    not: the offsets and ranking consumers may compile to separate
    exchanges with independently sampled bounds — r8 review finding);
    it is monotone in id (integral ids use exact integer ``div``), so
    within a bucket, group order IS id order and
    ``rank = offset + local_rank`` reproduces the single-task window's
    rank bit-for-bit — output and oracle hash identical, only physical
    parallelism differs.  Non-numeric ids get group 0 everywhere (the
    pre-r8 single-task-per-bucket behavior, documented fallback).

    The slim (source, id, n_tokens) projection is persisted for the
    plan's lifetime: the histogram, the offsets aggregate, and the
    ranking each consume it, and re-tokenizing the corpus three times
    would triple the dominant cost (measured 2.9× at sf0.1).  It is a
    3-column row per document (disk-spillable; Spark evicts LRU).  The
    NEXT call releases it (``relcache.persist_latest``), so the standing
    footprint is one projection per session, not one per call."""
    from olive_spark.ops.textstats import tokens

    from pyspark.sql.types import IntegralType, NumericType

    budget = int(budget_per_source)
    hot = int(hot_bucket_rows)
    # n_tokens_col (r13): model-accurate opt-in — pass e.g.
    # tokenize.bpe_token_count_col(df) to budget in BPE subwords
    # instead of whitespace tokens
    n_tok = (
        n_tokens_col if n_tokens_col is not None
        else F.size(tokens(F.col(text_col)))
    )
    from olive_spark.ops.relcache import persist_latest

    toks = persist_latest(
        df.select(source_col, id_col, n_tok.alias("n_tokens")),
        "curation.token_budget_mix",
    )
    buckets = toks.groupBy(source_col, "n_tokens").agg(
        F.sum(F.col("n_tokens").cast("long")).alias("__btok"),
        F.count("*").alias("__bcnt"),
    )
    wb = (
        Window.partitionBy(source_col)
        .orderBy(F.col("n_tokens").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = (
        buckets
        .withColumn("__before", F.coalesce(F.sum("__btok").over(wb), F.lit(0)))
        .filter(F.col("__before") + F.col("n_tokens") <= budget)
        .select(source_col, "n_tokens", "__before", "__bcnt")
    )
    # unified exact ranking (see docstring): __grp is a deterministic,
    # monotone-in-id pure function of the row — constant 0 for cold
    # buckets (single group = the r6/r7 single-window rank), id ranges
    # of width W for hot ones
    id_type = df.schema[id_col].dataType
    grp_w = max(1, hot // 64)  # ≤ hot/64 unique ids per ranking task
    if isinstance(id_type, IntegralType):
        # integer `div` truncates toward zero — still monotone
        # non-decreasing in id, and exact for the full int64 range
        # (a double cast would lose ids beyond 2^53)
        sub = F.expr(f"`{id_col}` div {grp_w}")
    elif isinstance(id_type, NumericType):
        sub = F.floor(F.col(id_col).cast("double") / F.lit(grp_w)).cast("long")
    else:  # non-numeric id: single group = pre-r8 single-task
        # behavior, documented fallback
        sub = F.lit(0).cast("long")
    joined = toks.join(kept, [source_col, "n_tokens"]).withColumn(
        "__grp",
        F.when(F.col("__bcnt") > hot, sub).otherwise(F.lit(0)).cast("long"),
    )
    wloc = Window.partitionBy(source_col, "n_tokens", "__grp").orderBy(id_col)
    woff = (
        Window.partitionBy(source_col, "n_tokens")
        .orderBy("__grp")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        joined.groupBy(source_col, "n_tokens", "__grp")
        .agg(F.count("*").alias("__pcnt"))
        .withColumn(
            "__off", F.coalesce(F.sum("__pcnt").over(woff), F.lit(0))
        )
        .select(source_col, "n_tokens", "__grp", "__off")
    )
    return (
        joined.withColumn("__lrank", F.row_number().over(wloc))
        .join(offs, [source_col, "n_tokens", "__grp"])
        .withColumn(
            "cum_tokens",
            F.col("__before")
            + F.col("n_tokens").cast("long")
            * (F.col("__off") + F.col("__lrank")),
        )
        .filter(F.col("cum_tokens") <= budget)
        .select(source_col, id_col, "n_tokens", "cum_tokens")
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: "dict[str, float]",
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: adds ``split_col``
    with the weight-proportional split name, decided by a seeded
    md5 of the row key — identical on every run, engine, partitioning,
    and cluster size (the reproducibility contract a training-data
    pipeline needs; rand()-based splitSQL or randomSplit() give a
    different answer per run and per partition layout).

    Mechanics: bucket = first 8 hex chars of md5("<key>:<seed>"),
    compared LEXICOGRAPHICALLY against cumulative-weight thresholds
    rendered as zero-padded hex — fixed-width lowercase hex orders
    identically to its numeric value, and md5 hex is identical across
    Spark/DuckDB/Python, so an oracle can replay the exact assignment.
    Pure projection: no shuffle, no UDF, whole-stage codegen.

    ``weights`` must sum to 1 (±1e-9); dict order fixes the interval
    order, so the same dict always yields the same assignment.  A new
    ``seed`` re-deals every row."""
    if len(weights) < 2:
        raise ValueError("need at least two splits")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive: {weights}")
    tot = sum(weights.values())
    if abs(tot - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {tot}")
    if split_col in df.columns:
        raise ValueError(f"column {split_col!r} already exists")
    h = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.col(key_col).cast("string"), F.lit(str(int(seed)))
            )
        ),
        1, 8,
    )
    names = list(weights)
    acc, col = 0.0, None
    for name in names[:-1]:
        acc += weights[name]
        cut = format(int(acc * (1 << 32)), "08x")
        col = (
            F.when(h < F.lit(cut), F.lit(name)) if col is None
            else col.when(h < F.lit(cut), F.lit(name))
        )
    col = col.otherwise(F.lit(names[-1]))
    return df.withColumn(split_col, col)


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR — Xie et al.
    2023, arXiv:2302.03169): score every document by how much its
    hashed-bigram distribution looks like a TARGET domain vs the raw
    corpus, the standard lever for tilting a 100 TB crawl toward a
    high-quality reference (Wikipedia, books, curated code) without a
    trained classifier.

        (id, n_feats, logw)   logw = Σ_b c_b · log(p_target(b)/p_raw(b))

    Features are hashed BIGRAMS: bucket = first 8 hex chars of
    md5("tok1 tok2") mod ``n_buckets`` — md5 hex is identical across
    Spark/DuckDB/Python (the same trick as :func:`hash_split`), so an
    oracle can replay the exact weights.  Both distributions get
    Laplace ``smoothing`` over the bucket vocabulary; the target is
    the ``is_target`` subset of ``df`` itself (pass any boolean
    expression — a language flag, a domain list, a curated id set
    joined in upstream).

    Scale shape: ONE bigram explode feeds (a) the per-(doc, bucket)
    counts and (b) the two corpus distributions — the distributions
    aggregate to ≤ ``n_buckets`` rows each (map-side combined) and
    broadcast back as a bucket→log-ratio table, so the scoring join
    ships kilobytes; per-doc weights are then one groupBy.  No UDF,
    no driver loop; everything is plain relational algebra at any
    corpus size.  Sampling: rank by ``logw`` (or Gumbel-perturb it
    with a seeded hash for proportional-without-replacement) and take
    the budget downstream."""
    w, b = int(n_buckets), float(smoothing)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )
    t = df.select(
        F.col(id_col), is_target.alias("__tgt"), toks.alias("__toks")
    ).select(
        F.col(id_col), "__tgt", F.col("__toks"),
        F.size("__toks").alias("__n"),
    ).filter(F.col("__n") >= 2)
    grams = F.transform(
        F.sequence(F.lit(0), F.col("__n") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("__toks"), i + 1),
            F.element_at(F.col("__toks"), i + 2),
        ),
    )
    ex = t.select(
        F.col(id_col), "__tgt", F.explode(grams).alias("__g")
    ).select(
        F.col(id_col), "__tgt",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("__g")), 1, 8), 16, 10)
            .cast("long"),
            F.lit(w),
        ).alias("bucket"),
    )
    per_doc = ex.groupBy(id_col, "bucket").agg(
        F.count("*").alias("c"), F.first("__tgt").alias("__tgt")
    )
    # corpus distributions: <= n_buckets rows each, map-side combined
    dist = ex.groupBy("bucket").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.col("__tgt").cast("long")).alias("n_tgt"),
    )
    totals = dist.agg(
        F.sum("n_raw").alias("t_raw"), F.sum("n_tgt").alias("t_tgt")
    )
    ratios = dist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log(
                (F.col("n_tgt") + F.lit(b))
                / (F.col("t_tgt") + F.lit(b * w))
            )
            - F.log(
                (F.col("n_raw") + F.lit(b))
                / (F.col("t_raw") + F.lit(b * w))
            )
        ).alias("__lr"),
    )
    return (
        per_doc.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("__lr")), 6).alias("logw"),
        )
    )
