"""Deduplication operators for LLM data pipelines (SURVEY.md north star).

Every operator is shuffle-aware and designed for 100 TB:

- exact dedup groups by a 128-bit content hash, never by the full text —
  the shuffle moves 16-byte keys, not documents;
- MinHash-LSH shuffles only (band_id, band_signature, doc_id) triples,
  then joins bucket-to-bucket — candidate pairs are generated without any
  all-pairs comparison;
- SimHash uses JVM-side xxhash64 token hashing and one vectorized Arrow
  pass for the bit vote (np.add.reduceat over the flattened bit matrix —
  no per-document Python);
- embedding near-dup buckets by LSH random hyperplanes, then verifies
  cosine within buckets only.

All thresholds/seeds are deterministic constants so results are stable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

# MinHash parameters: 64 permutations → 16 bands × 4 rows (r=4, b=16)
# detects Jaccard ≳ (1/16)^(1/4) ≈ 0.50 with high probability.
# The permutation domain is the 2^31-1 Mersenne prime so that x*a never
# overflows a 64-bit long under Spark's default ANSI arithmetic.
_N_PERM = 64
_BANDS = 16
_ROWS = _N_PERM // _BANDS
_MERSENNE = (1 << 31) - 1
_SEED = 0x9E3779B97F4A7C15


def _list_offsets_values(la) -> "tuple[np.ndarray, np.ndarray]":
    """(rebased offsets, exact values) for a possibly-sliced Arrow
    ListArray.

    ``la.offsets`` of a sliced ListArray are ABSOLUTE indices into the
    FULL (unsliced) child array, and ``la.values`` returns that full
    child — so feeding them to ``np.*.reduceat`` directly would (a) make
    the last segment run past the slice into foreign elements and
    (b) waste work on leading elements before the slice.  Rebase to the
    slice window instead: values are truncated to [off[0], off[-1]) and
    offsets shifted to start at 0."""
    off = la.offsets.to_numpy().astype(np.int64)
    vals = la.values.to_numpy(zero_copy_only=False)
    lo, hi = off[0], off[-1]
    return off - lo, vals[lo:hi]


def _perm_params() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    params = []
    state = _SEED
    for _ in range(_N_PERM):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state | 1) % _MERSENNE
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE
        params.append((a, b))
    return params


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash; keeps min id as canonical.

    Returns (keep_id, dup_count) per distinct content. At scale the
    shuffle key is md5(text) (16 bytes), not the document."""
    h = F.md5(F.col(text_col))
    return (
        df.groupBy(h.alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .select("keep_id", "dup_count", "content_hash")
    )


def shingles(text_col: str, k: int = 3):
    """Word k-gram shingles as an array column (JVM-side)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)]),
    )).otherwise(F.array(F.concat_ws(" ", toks)))


def shingle_hashes(text_col: str, k: int = 3):
    """64-bit hashes of word k-gram shingles WITHOUT materializing the
    shingle strings: multi-arg xxhash64 over the k token slots. Identical
    dedup semantics to string shingles up to hash collisions (~n²/2⁶⁴);
    saves building len(text)-proportional strings per shingle."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.xxhash64(*[F.element_at(toks, i + j + 1) for j in range(k)]),
    )).otherwise(F.array(F.xxhash64(F.concat_ws(" ", toks))))


def shingle_hash_grams(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """(id, distinct shingle hashes) with tokenization HOISTED into its
    own projection.  Higher-order functions (transform/sequence) run
    interpreted, outside whole-stage codegen — if split() sits inside the
    lambda it is re-evaluated per shingle slot, turning an O(tokens) row
    into O(tokens·k) regex splits (measured 6× slower at sf0.1).
    Splitting first, then shingling over the materialized token array,
    keeps the per-element lambda to three O(1) element_at lookups."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    t = df.select(F.col(id_col), toks.alias("__toks")).select(
        F.col(id_col), F.col("__toks"), F.size("__toks").alias("__n")
    )
    tc = F.col("__toks")
    grams = F.when(F.col("__n") >= k, F.transform(
        F.sequence(F.lit(0), F.col("__n") - k),
        lambda i: F.xxhash64(*[F.element_at(tc, i + j + 1) for j in range(k)]),
    )).otherwise(F.array(F.xxhash64(F.concat_ws(" ", tc))))
    return t.select(F.col(id_col), F.array_distinct(grams).alias("grams"))


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    stride: int = 1,
    min_count: int = 2,
    flag_coverage: float = 0.3,
) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): slide
    a ``width``-token window over each document, find fragments whose
    exact token sequence occurs >= ``min_count`` times anywhere in the
    corpus (cross- OR intra-document), and report per document how
    much of it is duplicated span:

        (id, n_tokens, n_frag, n_dup, dup_cov, flagged)

    ``dup_cov`` is the fraction of token POSITIONS covered by at least
    one duplicated fragment (overlapping windows union, not sum), the
    quantity the paper thresholds on; ``flagged`` = dup_cov >=
    ``flag_coverage``.  Documents shorter than ``width`` tokens carry
    no fragment and are excluded (they can't host a width-token span).

    RECALL CONTRACT.  With the default ``stride=1`` every width-token
    window of every document is counted, so every duplicated run of
    >= ``width`` tokens is detected REGARDLESS of its offset in either
    document — the same window-granular recall as the paper's suffix
    array (runs longer than ``width`` duplicate all their in-run
    windows and are covered end to end).  ``stride > 1`` is an opt-in
    subsampling mode that anchors windows at ``k*stride`` from each
    document's first token and therefore only finds duplicates whose
    offsets in the two documents are congruent mod ``stride`` — a
    phase-shifted duplicate is silently missed; use it only when an
    approximate profile is acceptable.  Fragments are compared by
    64-bit xxhash64 of the fragment text, so two DIFFERENT fragments
    collide with probability ~n_frags²/2⁶⁵ (a handful of spurious
    dup marks per 10¹⁰ fragments — profiling noise, never a miss).

    Scale shape: tokenization is hoisted (one regex split per doc, see
    shingle_hash_grams); the only shuffles are one groupBy on the
    8-byte fragment HASH (≈ n_tokens/stride slim rows per doc — the
    fragment string itself never shuffles, so stride=1 costs ~24
    bytes/token of shuffle, not width× the corpus) to count
    occurrences and one join back; span coverage is computed per doc
    from the SORTED duplicated-offset list with a single O(n_dup)
    interval-union fold — no position explode, no flatten of
    n_dup*width position arrays, no window over raw rows.  The
    groupBy+join shape (rather than COUNT OVER PARTITION BY frag) is
    deliberate: a boilerplate fragment duplicated across millions of
    docs stays skew-safe under map-side partial aggregation, where a
    window would funnel all its rows to one task.  The fragment
    derivation is recomputed on each side of the self-join (plan
    contract pins <= 2 Generate nodes) — scan-local work, cheaper at
    scale than persisting tokens/stride rows.  Everything is JVM-side
    built-ins; no Python UDF."""
    w, s = int(width), int(stride)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    t = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.size(F.filter(F.col("__toks"), lambda x: x != "")).alias("__n"),
        )
        .filter(F.col("__n") >= w)
    )
    tc = F.filter(F.col("__toks"), lambda x: x != "")
    # fragment identity = xxhash64 of the width-token text; the string
    # is built scan-local and only the 8-byte hash leaves the stage
    frags = F.transform(
        F.sequence(F.lit(0), F.floor((F.col("__n") - w) / s).cast("int")),
        lambda k: F.struct(
            k.alias("k"),
            F.xxhash64(F.concat_ws(" ", F.slice(tc, k * s + 1, w))).alias("fh"),
        ),
    )
    fr = t.select(
        F.col(id_col), F.col("__n").alias("n_tokens"),
        F.explode(frags).alias("f"),
    ).select(id_col, "n_tokens", F.col("f.k").alias("k"), F.col("f.fh").alias("fh"))
    dup = (
        fr.groupBy("fh").agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("fh", F.lit(True).alias("__dup"))
    )
    marked = fr.join(dup, "fh", "left").select(
        id_col, "n_tokens", "k", F.coalesce("__dup", F.lit(False)).alias("is_dup")
    )
    # union of covered positions: each duplicated offset k covers
    # [k*s+1, k*s+w]; over the SORTED offset list the union length is a
    # single fold adding min(w, gap to previous start) per interval —
    # O(n_dup) longs, no n_dup*width position materialization
    cov = F.aggregate(
        F.array_sort(F.col("__dup_ks")),
        F.struct(
            F.lit(0).cast("long").alias("acc"),
            F.lit(-(1 << 40)).cast("long").alias("prev"),
        ),
        lambda st, k: F.struct(
            (st.acc + F.least(F.lit(w).cast("long"),
                              (k - st.prev) * F.lit(s))).alias("acc"),
            k.cast("long").alias("prev"),
        ),
        lambda st: st.acc,
    )
    per_doc = (
        marked.groupBy(id_col)
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.count("*").alias("n_frag"),
            F.sum(F.col("is_dup").cast("int")).alias("n_dup"),
            F.collect_list(F.when(F.col("is_dup"), F.col("k"))).alias("__dup_ks"),
        )
        .withColumn("__cov", F.when(F.col("n_dup") > 0, cov).otherwise(F.lit(0)))
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_frag",
        "n_dup",
        (F.least(F.col("__cov"), F.col("n_tokens")) / F.col("n_tokens"))
        .alias("dup_cov"),
        (
            F.least(F.col("__cov"), F.col("n_tokens")) / F.col("n_tokens")
            >= F.lit(float(flag_coverage))
        ).alias("flagged"),
    )


def remove_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """EXACT-SUBSTRING REMOVAL (the second half of Lee et al. 2022 —
    :func:`substring_dup_spans` finds duplicated spans, this EXCISES
    them, keeping exactly one canonical copy corpus-wide):

        (id, n_tokens, n_removed, clean_text)

    Rule (deterministic, window-granular): every ``width``-token window
    occurring >= ``min_count`` times elects ONE canonical occurrence —
    the (min id, then min offset) one; every token position covered by
    a NON-canonical duplicated window is removed; the canonical copy's
    positions survive unless another fragment's non-canonical window
    also covers them (overlap resolves toward removal, the
    paper-faithful direction — duplicated text never survives twice).
    Documents shorter than ``width`` tokens pass through unchanged.
    ``clean_text`` re-joins the surviving tokens with single spaces
    (the tokenizer's whitespace is NOT preserved — token-level
    fidelity, byte-level normalization, same as every op downstream of
    the ``\\s+`` split).

    Scale shape: the fragment derivation and skew-safe groupBy+join of
    :func:`substring_dup_spans` (8-byte fragment hashes shuffle, never
    strings), one extra min-struct per fragment group to elect the
    canonical owner; per-doc reconstruction gathers the doc's removal
    offsets (bounded by n_tokens ints) and rebuilds the token array
    with one O(n + ranges) gap walk over the merged disjoint ranges
    (one array slice per kept segment) — no explode of positions, no
    per-position containment scan, no Python.  Collision note: fragments compare by xxhash64, so two
    different windows collide with probability ~n²/2⁶⁵ (an unlucky
    collision removes a non-duplicated window — curation noise, never
    corpus-scale loss)."""
    w = int(width)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    t = (
        df.select(F.col(id_col), toks.alias("__rawtoks"))
        .select(
            F.col(id_col),
            F.filter(F.col("__rawtoks"), lambda x: x != "").alias("__toks"),
        )
        .select(
            F.col(id_col), F.col("__toks"),
            F.size("__toks").alias("__n"),
        )
    )
    tc = F.col("__toks")
    frags = F.transform(
        F.sequence(F.lit(0), F.col("__n") - w),
        lambda k: F.struct(
            k.alias("k"),
            F.xxhash64(F.concat_ws(" ", F.slice(tc, k + 1, w))).alias("fh"),
        ),
    )
    fr = (
        t.filter(F.col("__n") >= w)
        .select(F.col(id_col), F.explode(frags).alias("f"))
        .select(id_col, F.col("f.k").alias("k"), F.col("f.fh").alias("fh"))
    )
    dup = (
        fr.groupBy("fh")
        .agg(
            F.count("*").alias("__c"),
            F.min(F.struct(F.col(id_col), F.col("k"))).alias("__own"),
        )
        .filter(F.col("__c") >= min_count)
        .select("fh", "__own")
    )
    # every NON-canonical occurrence of a duplicated fragment marks its
    # window for removal; the owner's window survives
    removals = (
        fr.join(dup, "fh")
        .filter(
            (F.col(id_col) != F.col(f"__own.{id_col}"))
            | (F.col("k") != F.col("__own.k"))
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("k")).alias("__rm_ks"))
    )
    out = t.join(removals, id_col, "left")
    # surviving tokens: position p (1-based) is removed iff some rm
    # start k satisfies k+1 <= p <= k+w; with SORTED starts, the binary
    # containment test is "the largest start <= p-1 is within w of p" —
    # O(log ranges) per token via a fold over the starts is overkill at
    # these widths; a linear exists() over MERGED disjoint ranges keeps
    # it simple and bounded (ranges ≈ distinct dup runs per doc)
    merged = F.aggregate(
        F.coalesce(F.col("__rm_ks"), F.array().cast("array<int>")),
        F.array().cast("array<struct<lo:int,hi:int>>"),
        lambda acc, k: F.when(
            (F.size(acc) > 0)
            & (k + 1 <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["lo"].alias("lo"),
                    F.greatest(
                        F.element_at(acc, -1)["hi"], (k + w).cast("int")
                    ).alias("hi"),
                )),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(
                (k + 1).cast("int").alias("lo"),
                (k + w).cast("int").alias("hi"),
            )))
        ),
    )
    with_ranges = out.withColumn("__ranges", merged)
    # Surviving tokens via one O(ranges) gap walk (r13, VERDICT r12
    # watch item): the merged ranges are DISJOINT and SORTED with
    # nonempty gaps (the fold above merges abutting starts), so the
    # kept positions are exactly the complement segments —
    # [1, lo1-1], [hi1+1, lo2-1], …, [hik+1, n].  Emit one array
    # slice per gap instead of testing every position against every
    # range: the old exists()-per-position pass was O(n·ranges)
    # interpreted and went quadratic on a long doc riddled with
    # disjoint dup runs; this is O(n + ranges) regardless of layout.
    segs = F.aggregate(
        F.col("__ranges"),
        F.struct(
            F.lit(0).cast("int").alias("prev"),
            F.array().cast("array<struct<lo:int,hi:int>>").alias("segs"),
        ),
        lambda acc, r: F.struct(
            r["hi"].alias("prev"),
            F.when(
                r["lo"] > acc["prev"] + 1,
                F.concat(acc["segs"], F.array(F.struct(
                    (acc["prev"] + 1).cast("int").alias("lo"),
                    (r["lo"] - 1).cast("int").alias("hi"),
                ))),
            ).otherwise(acc["segs"]).alias("segs"),
        ),
        lambda acc: F.when(
            acc["prev"] < F.col("__n"),
            F.concat(acc["segs"], F.array(F.struct(
                (acc["prev"] + 1).cast("int").alias("lo"),
                F.col("__n").cast("int").alias("hi"),
            ))),
        ).otherwise(acc["segs"]),
    )
    kept = F.flatten(F.transform(
        segs,
        lambda s: F.slice(F.col("__toks"), s["lo"], s["hi"] - s["lo"] + 1),
    ))
    return with_ranges.select(
        F.col(id_col),
        F.col("__n").alias("n_tokens"),
        F.aggregate(
            F.col("__ranges"),
            F.lit(0),
            lambda acc, r: acc + (r["hi"] - r["lo"] + 1),
        ).alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """doc_id → array<long> of _N_PERM minhashes.

    Shuffle-free: shingle hashing stays JVM-side (xxhash64 over token
    slots), then one Arrow pass per partition computes every
    permutation minimum vectorized — the (n_shingles × 64) product
    matrix reduces by the grams list offsets (np.minimum.reduceat), so
    per-doc loops never happen.  Replaces an explode + 64-agg-buffer
    hash aggregation that was ~4× slower and shuffled (doc_id, sig)
    pairs; this version emits signatures in place, and only the LSH
    banding stage (slim triples) shuffles at all.

    Overflow-safe: h, a < 2^31 ⇒ h*a + b < 2^63."""
    import pyarrow as pa

    params = _perm_params()
    pa_ = np.array([p[0] for p in params], dtype=np.int64)
    pb_ = np.array([p[1] for p in params], dtype=np.int64)
    grams_df = shingle_hash_grams(df, text_col, id_col)

    def sign(batches):
        for batch in batches:
            ids = batch.column(0)
            la = batch.column(1)
            off, vals = _list_offsets_values(la)
            vals = vals.astype(np.int64)
            if len(vals) == 0:
                sig = np.full((len(ids), _N_PERM), _MERSENNE - 1, dtype=np.int64)
            else:
                h = np.abs(vals) % _MERSENNE
                hv = (h[:, None] * pa_[None, :] + pb_[None, :]) % _MERSENNE
                # reduceat needs strictly increasing offsets; shingle
                # arrays are never empty by construction (shingle_hashes
                # emits ≥1 element), so off is strictly increasing
                sig = np.minimum.reduceat(hv, off[:-1], axis=0)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.FixedSizeListArray.from_arrays(
                    pa.array(sig.reshape(-1), pa.int64()), _N_PERM
                ).cast(pa.list_(pa.int64()))],
                ["__id", "minhash"],
            )

    id_type = dict(df.dtypes)[id_col]
    out = grams_df.mapInArrow(sign, f"__id {id_type}, minhash array<long>")
    return out.select(F.col("__id").alias(id_col), "minhash")


def band_hashes(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_id, band_hash) triples from a minhash-signature frame:
    the LSH banding surface.  ONE definition shared by the in-memory
    self-join (minhash_lsh_pairs) and the persisted index
    (lsh_index.py) — a probe computed with a different band hash than
    the stored index would silently find nothing."""
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band_id"),
                    F.xxhash64(*[
                        F.col("minhash")[bi * _ROWS + r]
                        for r in range(_ROWS)
                    ]).alias("band_hash"),
                )
                for bi in range(_BANDS)
            ])
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH banding.

    Shuffle payload: (band_id, band_hash, doc_id). Bucket self-join emits
    candidate pairs; the estimated Jaccard (matching minhash fraction)
    filters to ≥ threshold. Returns (doc_a, doc_b, jaccard_est).

    Signatures are persisted before the self-join: both sides share one
    computation, and at scale a (doc_id, 64×long) cache is far cheaper
    than a second full-text scan.  The next call releases them
    (``relcache.persist_latest``)."""
    from pyspark import StorageLevel

    from olive_spark.ops.relcache import persist_latest

    sigs = persist_latest(
        minhash_signatures(df, text_col, id_col), "dedup.minhash_lsh_pairs",
        StorageLevel.MEMORY_AND_DISK,
    )
    # the banding self-join moves ONLY (doc_id, band_id, band_hash)
    # triples — the 64-long signatures would be replicated 16× through
    # the shuffle otherwise; they re-attach from the persisted cache
    # after the candidate set (small by construction) is deduplicated
    bands = band_hashes(sigs, id_col)

    a = bands.alias("a")
    b = bands.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cand = (
        cand_ids.join(
            sigs.select(F.col(id_col).alias("doc_a"), F.col("minhash").alias("mh_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col(id_col).alias("doc_b"), F.col("minhash").alias("mh_b")),
            "doc_b",
        )
    )
    jac = (
        F.size(
            F.filter(
                F.zip_with("mh_a", "mh_b", lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double") / F.lit(float(_N_PERM))
    )
    return (
        cand.withColumn("jaccard_est", F.round(jac, 4))
        .filter(F.col("jaccard_est") >= threshold)
        .select("doc_a", "doc_b", "jaccard_est")
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.5, k: int = 3,
) -> DataFrame:
    """EXACT n-gram Jaccard verification of the LSH candidates: candidate
    generation via minhash banding (cheap), exact set Jaccard on the
    (small) candidate set only — never all-pairs."""
    cands = minhash_lsh_pairs(df, text_col, id_col, threshold=0.30)
    sets_df = shingle_hash_grams(df, text_col, id_col, k)
    a = sets_df.alias("ga")
    b = sets_df.alias("gb")
    joined = (
        cands.join(a, cands.doc_a == F.col(f"ga.{id_col}"))
        .join(b, cands.doc_b == F.col(f"gb.{id_col}"))
    )
    inter = F.size(F.array_intersect("ga.grams", "gb.grams")).cast("double")
    union = F.size(F.array_union("ga.grams", "gb.grams")).cast("double")
    return (
        joined.withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1.0)), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash: JVM hashes tokens (xxhash64); one vectorized
    Arrow pass per partition does the bit vote for the whole batch at
    once — the flattened (total_tokens × 64) bit matrix reduces by the
    token-list offsets (np.add.reduceat), mirroring minhash_signatures.
    No per-document or per-bit Python loop."""
    import pyarrow as pa

    toks = F.filter(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda x: x != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    hdf = df.select(F.col(id_col), hashes.alias("__h"))

    def vote(batches):
        for batch in batches:
            ids = batch.column(0)
            off, vals = _list_offsets_values(batch.column(1))
            vals = vals.astype(np.int64)
            n = len(off) - 1
            sig = np.zeros(n, dtype=np.int64)
            lens = np.diff(off)
            nz = np.nonzero(lens > 0)[0]
            if nz.size:
                u = vals.view(np.uint64)
                bits = (
                    (u[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
                ).astype(np.int64)
                # reduceat at the nonzero rows' start offsets: empty rows
                # between them contribute zero length, so each segment
                # ends exactly at the next nonzero row's start (or the
                # flattened end for the last one)
                sums = np.add.reduceat(bits, off[nz], axis=0)
                votes = sums * 2 - lens[nz][:, None]  # +1/-1 vote per bit
                sbits = (votes > 0).astype(np.uint64)
                packed = (sbits << np.arange(64, dtype=np.uint64)).sum(axis=1)
                sig[nz] = packed.astype(np.uint64).view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sig, pa.int64())], ["__id", "simhash"]
            )

    id_type = dict(df.dtypes)[id_col]
    out = hdf.mapInArrow(vote, f"__id {id_type}, simhash long")
    return out.select(F.col("__id").alias(id_col), "simhash")


def simhash_neardup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming via 4×16-bit
    block banding (pigeonhole: ≤3 differing bits → ≥1 identical block)."""
    sigs = simhash_signatures(df, text_col, id_col)
    blocks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block_id"),
                    F.shiftrightunsigned("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("block"),
                )
                for i in range(4)
            ])
        ).alias("blk"),
    ).select(id_col, "simhash", "blk.block_id", "blk.block")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_neardup_pairs(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    threshold: float = 0.95, n_planes: int = 8,
) -> DataFrame:
    """Embedding near-duplicates: LSH by random-hyperplane sign buckets,
    exact cosine verification inside buckets only (bucket join, never
    all-pairs). Bucket assignment is one numpy matmul per Arrow batch
    (vectors × deterministic ±1 planes) — vectors never leave their scan
    partitions; only (id, vector, bucket) rows continue to the join."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    from olive_spark.ops.similarity import cosine_expr

    id_field = df.schema[id_col].dataType.simpleString()
    vec_field = df.schema[vec_col].dataType.simpleString()
    out_schema = f"{id_col} {id_field}, {vec_col} {vec_field}, bucket int"

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        planes = None
        from olive_spark.ops.similarity import batch_matrix

        for batch in batches:
            vecs = batch_matrix(batch.column(vec_col))
            if batch.num_rows == 0:
                bucket = np.zeros(0, dtype=np.int32)
            elif vecs.ndim != 2 or vecs.shape[0] != batch.num_rows:
                # ragged/null embeddings can't be hyperplane-hashed;
                # silently lumping them into one bucket would split
                # true near-dup pairs across buckets — fail loudly
                raise ValueError(
                    f"embedding column {vec_col!r} has ragged or null "
                    f"vectors; near-dup LSH needs fixed-width embeddings"
                )
            else:
                if planes is None or planes.shape[0] != vecs.shape[1]:
                    # deterministic ±1 planes from an integer mix of
                    # (dim, plane) — stable across runs and partitions
                    dims = np.arange(vecs.shape[1], dtype=np.int64)[:, None]
                    ps = np.arange(n_planes, dtype=np.int64)[None, :]
                    planes = ((((dims * 2654435761 + ps * 40503) >> 7) & 1) * 2 - 1).astype(
                        np.float64
                    )
                signs = (vecs @ planes) > 0  # (n, planes); norm is sign-invariant
                bucket = (signs << np.arange(n_planes)).sum(axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), batch.column(vec_col), pa.array(bucket)],
                names=[id_col, vec_col, "bucket"],
            )

    from pyspark import StorageLevel

    from olive_spark.ops.relcache import persist_latest

    base = persist_latest(
        df.select(id_col, vec_col).mapInArrow(assign, out_schema),
        "dedup.embedding_neardup_pairs", StorageLevel.MEMORY_AND_DISK,
    )
    a, b = base.alias("a"), base.alias("b")
    cand = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    cos = cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    return (
        cand.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    sample_rows: int = 256,
    iters: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then inside
    each cluster keep only the lowest-id member of every group of
    embeddings within ``threshold`` cosine of one another.  Near-dup
    pair ops (:func:`embedding_neardup_pairs`) REPORT duplicates;
    this op DECIDES retention — the pruning step a curation pipeline
    actually applies.

    Scale shape:
    - centroids: deterministic driver-side k-means over the first
      ``sample_rows`` id-ordered rows (same bounded-sample discipline
      as PQ codebook training), broadcast as one small matrix;
    - assignment: one numpy matmul per Arrow batch against the
      broadcast centroids — vectors never shuffle for assignment;
    - dedup: one shuffle on cluster id, then an O(m²) within-cluster
      cosine matrix per group.  Cluster population m ~ N/k is the
      knob: size ``n_clusters`` proportionally to the corpus (the
      SemDeDup paper uses ~100k clusters at web scale) so per-group
      work and memory stay bounded.  Never all-pairs across clusters.

    Returns every input id with its cluster and a ``kept`` flag
    (row count preserved — callers filter ``kept`` to prune).
    Deterministic for a fixed input, but k-means is not expressible in
    ANSI SQL, so driver verification is rows-only; value-level
    semantics are pinned by unit tests with planted duplicates."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    from olive_spark.ops.similarity import (
        _centroid_buckets,
        _pq_train_codebooks,
        batch_matrix,
    )

    spark = df.sparkSession
    base = df.select(id_col, vec_col)
    sample = base.orderBy(id_col).limit(sample_rows).collect()
    if not sample:
        id_t = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame([], f"{id_col} {id_t}, cluster int, kept boolean")
    dims = {len(r[vec_col]) if r[vec_col] is not None else -1 for r in sample}
    if len(dims) != 1 or -1 in dims:
        raise ValueError(
            f"embedding column {vec_col!r} has ragged or null vectors; "
            f"semantic dedup needs fixed-width embeddings"
        )
    smat = np.array([r[vec_col] for r in sample], dtype=np.float64)
    norms = np.maximum(np.linalg.norm(smat, axis=1, keepdims=True), 1e-300)
    # k-means on NORMALIZED vectors: cosine geometry, matching both the
    # assignment (normalized matmul) and the dedup criterion
    [cents] = _pq_train_codebooks(
        smat / norms, m=1, n_cent=min(n_clusters, len(sample)), iters=iters
    )
    cmat = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-300)
    cids = np.arange(cmat.shape[0], dtype=np.int64)
    bc = spark.sparkContext.broadcast((cids, cmat))

    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()

    def assign(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        cids_, cmat_ = bc.value
        for batch in batches:
            vecs = batch_matrix(batch.column(vec_col))
            if batch.num_rows and (vecs.ndim != 2 or vecs.shape[0] != batch.num_rows):
                raise ValueError(
                    f"embedding column {vec_col!r} has ragged or null "
                    f"vectors; semantic dedup needs fixed-width embeddings"
                )
            cluster = _centroid_buckets(vecs, batch.num_rows, cids_, cmat_)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), batch.column(vec_col),
                 pa.array(cluster, pa.int32())],
                names=[id_col, vec_col, "cluster"],
            )

    assigned = base.mapInArrow(
        assign, f"{id_col} {id_t}, {vec_col} {vec_t}, cluster int"
    )

    out_schema = f"{id_col} {id_t}, cluster int, kept boolean"

    def prune(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        n = np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
        x = x / n
        sims = x @ x.T
        # drop a row iff some LOWER-id row in the cluster is within the
        # threshold: column j of the strict upper triangle holds j's
        # similarities to all earlier rows
        dup = np.triu(sims >= threshold, k=1).any(axis=0)
        return pd.DataFrame({
            id_col: pdf[id_col],
            "cluster": pdf["cluster"],
            "kept": ~dup,
        })

    return assigned.groupBy("cluster").applyInPandas(prune, out_schema)


# --- Incremental (new-batch vs corpus) dedup -------------------------------
#
# The nightly-ingest shape: a modest new batch must be deduplicated
# against a huge existing corpus.  The exact result is an anti-join on a
# 128-bit content hash; the Bloom prefilter lets most new rows skip that
# join entirely.  Blooms are OR-composable, so a corpus bloom can be
# maintained incrementally (build one per ingested batch, OR into the
# running corpus bloom) instead of rescanning 100 TB per night.

_BLOOM_K = 7  # ~10 bits/key → k = round(10·ln2) ≈ 7, FPP ≈ 0.8%


def _bloom_hashes(text_col: str):
    """Two independent JVM-side 64-bit hashes for double-hashing Bloom
    positions.  Kept non-negative so numpy modulo is well-defined."""
    mask = F.lit(0x7FFFFFFFFFFFFFFF)
    h1 = F.xxhash64(F.col(text_col)).bitwiseAND(mask)
    h2 = F.xxhash64(F.lit(17), F.col(text_col)).bitwiseAND(mask)
    return h1.alias("__h1"), h2.alias("__h2")


def _bloom_set_bits(bits: "np.ndarray", h1, h2, m: int) -> None:
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64)
    for i in range(_BLOOM_K):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
        np.bitwise_or.at(bits, (pos >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (pos & np.uint64(63)))


def _bloom_fold_fn(m: int, n_shards: int):
    """The Arrow-batch shard fold SHARED by the in-memory corpus bloom
    (:func:`build_corpus_bloom`) and the persisted index
    (ops/bloom_index._shard_partials): routes each (h1, h2) row to
    shard ``h1 % n_shards`` and sets its bits in that shard's bitmap,
    yielding one (shard, bloom) RecordBatch per task.  One definition,
    so the two paths cannot drift — their bit-identical parity is a
    pinned contract (tests/test_bloom_index.py)."""
    import pyarrow as pa

    words = m // 64

    def fold(batches):
        shards: dict[int, "np.ndarray"] = {}
        for batch in batches:
            if not batch.num_rows:
                continue
            h1 = batch.column("__h1").to_numpy()
            h2 = batch.column("__h2").to_numpy()
            sh = (h1 % n_shards).astype(np.int64)
            for s in np.unique(sh):
                mask = sh == s
                bits = shards.setdefault(
                    int(s), np.zeros(words, dtype=np.uint64)
                )
                _bloom_set_bits(bits, h1[mask], h2[mask], m)
        if shards:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(list(shards.keys()), pa.int32()),
                    pa.array(
                        [b.tobytes() for b in shards.values()],
                        pa.binary(),
                    ),
                ],
                ["shard", "bloom"],
            )

    return fold


def _bloom_test_bits(bits: "np.ndarray", h1, h2, m: int) -> "np.ndarray":
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64)
    hit = np.ones(len(h1), dtype=bool)
    for i in range(_BLOOM_K):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
        word = bits[(pos >> np.uint64(6)).astype(np.int64)]
        hit &= (word >> (pos & np.uint64(63))).astype(np.uint64) & np.uint64(1) != 0
    return hit


def fuzzy_pairs(
    df: DataFrame,
    name_col: str = "name",
    id_col: str = "id",
    max_dist: int = 2,
) -> DataFrame:
    """All pairs of rows whose ``name_col`` values are within Levenshtein
    distance ``max_dist`` — WITHOUT a cartesian product, via symmetric-
    deletion blocking (the SymSpell scheme): every string explodes into
    its ≤``max_dist``-deletion variants, candidate pairs come from an
    EQUI-join on shared variants, and the exact distance filter runs
    only inside blocks.  The blocking is provably complete — if
    dist(s, t) ≤ k then some string in Dk(s) ∩ Dk(t) exists, where Dk
    is the set of ≤k-deletion variants — and the DuckDB oracle (brute-
    force cross join + levenshtein) verifies that completeness
    value-for-value.

    100 TB shape: fan-out is ~1 + n + n²/2 variant keys per string
    (≈120 for 15-char strings at k=2 — bounded by string length, not
    corpus size), variants are generated JVM-side (nested higher-order
    transforms, no UDF), the join is a hash equi-join on variant, and
    only candidate pairs (tiny vs the n² cross product) reach the
    Levenshtein evaluation.

    Skew-proof by construction (r7 audit — previously a docstring-only
    caveat): blocking runs over DISTINCT name strings, never rows.  A
    degenerate corpus where one string appears 10⁸ times would
    otherwise put 10⁸ rows in every one of its variant blocks (10¹⁶
    in-block candidates); distinct-first keeps blocks bounded by
    distinct-value frequency, Levenshtein runs once per distinct name
    pair, and row multiplicity re-enters only at the end as equi-join
    expansions that emit exactly the OUTPUT pairs (same-name rows pair
    at dist 0 via a count>1 self-expansion, no cross product anywhere).

    Returns (a_id, b_id, dist) with ``a_id < b_id``."""
    if max_dist not in (1, 2):
        raise ValueError("symmetric-delete blocking implemented for max_dist in (1, 2)")

    def dels(col: str) -> str:
        return (
            f"CASE WHEN length({col}) > 0 THEN "
            f"transform(sequence(1, length({col})), i -> "
            f"concat(substring({col}, 1, i-1), substring({col}, i+1, length({col})))) "
            f"ELSE array() END"
        )

    d1 = F.expr(dels("__name"))
    parts = [F.array(F.col("__name")), d1]
    if max_dist == 2:
        parts.append(F.expr(
            f"flatten(transform({dels('__name')}, v -> {dels('v')}))"
        ))
    keys = F.array_distinct(F.concat(*parts))
    names = df.select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__name")
    )
    dn = names.groupBy("__name").agg(F.count("*").alias("__cnt"))
    ex = dn.select("__name", F.explode(keys).alias("__k"))
    a = ex.select(F.col("__name").alias("a_name"), "__k")
    b = ex.select(F.col("__name").alias("b_name"), "__k")
    name_pairs = (
        a.join(b, "__k")
        .filter(F.col("a_name") < F.col("b_name"))
        .select("a_name", "b_name")
        .distinct()
        .withColumn("dist", F.levenshtein("a_name", "b_name"))
        .filter(F.col("dist") <= max_dist)
    )
    same = dn.filter(F.col("__cnt") > 1).select(
        F.col("__name").alias("a_name"),
        F.col("__name").alias("b_name"),
        F.lit(0).alias("dist"),
    )
    ia = names.select(F.col("__id").alias("__ida"), F.col("__name").alias("a_name"))
    ib = names.select(F.col("__id").alias("__idb"), F.col("__name").alias("b_name"))
    return (
        name_pairs.unionByName(same)
        .join(ia, "a_name")
        .join(ib, "b_name")
        .filter(F.col("__ida") != F.col("__idb"))
        .select(
            F.least("__ida", "__idb").alias("a_id"),
            F.greatest("__ida", "__idb").alias("b_id"),
            "dist",
        )
        .distinct()
    )


def build_corpus_bloom(
    corpus_df: DataFrame, text_col: str = "text", expected_items: int = 1 << 20,
    bits_per_key: int = 10, n_shards: int = 1,
) -> dict:
    """Distributed Bloom filter over a corpus's content hashes,
    hash-prefix-sharded into ``n_shards`` independent bitmaps.

    Keys route to shard ``h1 % n_shards``; each shard is a standalone
    Bloom filter of ``~total_bits / n_shards`` bits, so per-shard FP
    rate matches the flat filter (each shard sees ~1/n_shards of the
    keys at the same bits/key).  Returns ``{"m": per-shard bits, "k",
    "n_shards", "bits": np.uint64 array of shape (n_shards, m/64)}``.
    Same-geometry blooms OR-compose via :func:`merge_blooms` —
    shard-wise — which is how a running corpus bloom is maintained
    across ingests without rescanning the corpus.

    Why shard (r6 audit): one flat bitmap at 10 bits/key is ~1.2 GB at
    10^9 keys and 12 GB at 10^10 — past single-broadcast and driver
    comfort.  Sharding bounds every unit of traffic to m/8 bytes:

    - build: ``n_shards == 1`` keeps the shuffle-free per-partition
      fold; for ``n_shards > 1`` the slim (h1, h2) rows shuffle once on
      shard id, so each fold task builds only the shard bitmaps it
      owns (~1 per task when shuffle partitions ≥ n_shards) and the
      driver ORs one m/8-byte row per (task, shard);
    - probe: :func:`incremental_dedup` broadcasts each shard
      SEPARATELY.  Spark broadcasts fetch lazily on first ``.value``
      access, so an executor materializes only the shards its rows
      route to — a batch pre-partitioned by ``h1 % n_shards`` touches
      one shard per task regardless of total bloom size."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    m = max(256, -(-int(expected_items) * bits_per_key // n_shards))
    m = (m + 63) & ~63  # multiple of 64 for the uint64 word array
    words = m // 64
    fold = _bloom_fold_fn(m, n_shards)

    hashed = corpus_df.select(*_bloom_hashes(text_col))
    if n_shards > 1:
        # one slim shuffle so each fold task owns few shards
        hashed = hashed.repartition(F.col("__h1") % n_shards)
    rows = hashed.mapInArrow(fold, "shard int, bloom binary").collect()
    bits = np.zeros((n_shards, words), dtype=np.uint64)
    for r in rows:
        bits[r.shard] |= np.frombuffer(r.bloom, dtype=np.uint64)
    return {"m": m, "k": _BLOOM_K, "n_shards": n_shards, "bits": bits}


def merge_blooms(a: dict, b: dict) -> dict:
    """OR-compose two corpus blooms built with the same geometry
    (per-shard bit count, hash count, shard count) — shard-wise."""
    if (
        a["m"] != b["m"] or a["k"] != b["k"]
        or a.get("n_shards", 1) != b.get("n_shards", 1)
    ):
        raise ValueError("bloom geometry mismatch: cannot merge")
    return {
        "m": a["m"], "k": a["k"], "n_shards": a.get("n_shards", 1),
        "bits": a["bits"] | b["bits"],
    }


def incremental_dedup(
    new_df: DataFrame, corpus_df: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
    bloom: dict | None = None,
) -> DataFrame:
    """Rows of ``new_df`` whose content does not already exist in
    ``corpus_df``, deduplicated within the batch (min id wins).
    Returns (id_col, content_hash) — exact, regardless of ``bloom``.

    Scale design (100 TB corpus, modest nightly batch):

    - both sides reduce to ``md5(text)`` — the corpus never ships
      documents into the join, only 16-byte hashes, and the corpus scan
      prunes to the text column;
    - the anti-join's new side is pre-aggregated to distinct hashes, so
      AQE broadcast-joins it against the corpus hash stream when small;
    - with a ``bloom`` (from :func:`build_corpus_bloom`, broadcast to
      executors), new rows whose hash is definitely absent bypass the
      join entirely; only the possibly-duplicate slice joins.  Bloom
      false positives are removed by the exact confirm join, so the
      prefilter changes cost, never results.  The bloom is built once
      per corpus version and OR-updated per ingest (blooms compose),
      not rebuilt per query.
    """
    import pyarrow as pa

    batch = (
        new_df.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"),
            *_bloom_hashes(text_col),
        )
        .groupBy("content_hash", "__h1", "__h2")
        .agg(F.min(id_col).alias(id_col))
    )
    corpus_hashes = corpus_df.select(F.md5(F.col(text_col)).alias("content_hash"))

    if bloom is None:
        fresh = batch
    else:
        m, nsh = bloom["m"], bloom.get("n_shards", 1)
        bits = np.atleast_2d(bloom["bits"])
        sc = new_df.sparkSession.sparkContext
        # one broadcast PER SHARD: Spark fetches broadcast blocks
        # lazily on first .value access, so a task only materializes
        # the shards its rows route to — the whole-corpus bloom never
        # has to fit in one broadcast (r6 audit: 12 GB at 10^10 keys)
        bcs = [sc.broadcast(bits[s].tobytes()) for s in range(nsh)]

        def flag(batches):
            for b in batches:
                if b.num_rows == 0:
                    hit = np.zeros(0, dtype=bool)
                else:
                    h1 = b.column("__h1").to_numpy()
                    h2 = b.column("__h2").to_numpy()
                    hit = np.zeros(len(h1), dtype=bool)
                    sh = h1 % nsh if nsh > 1 else None
                    for s in [0] if sh is None else np.unique(sh):
                        mask = slice(None) if sh is None else sh == s
                        arr = np.frombuffer(bcs[int(s)].value, dtype=np.uint64)
                        hit[mask] = _bloom_test_bits(arr, h1[mask], h2[mask], m)
                yield b.append_column("__maybe_dup", pa.array(hit))

        from pyspark import StorageLevel

        from olive_spark.ops.relcache import persist_latest

        id_type = dict(new_df.dtypes)[id_col]
        # persisted: both the definite-new and the confirm-join branch
        # read it, and without a persist the upstream hash-agg would
        # run twice; the next call releases it
        flagged = persist_latest(
            batch.mapInArrow(
                flag,
                f"content_hash string, __h1 long, __h2 long, "
                f"{id_col} {id_type}, __maybe_dup boolean",
            ),
            "dedup.incremental_dedup", StorageLevel.MEMORY_AND_DISK,
        )
        definite = flagged.filter(~F.col("__maybe_dup"))
        maybe = flagged.filter(F.col("__maybe_dup")).join(
            corpus_hashes, "content_hash", "left_anti"
        )
        fresh = definite.unionByName(maybe.select(definite.columns))
        return fresh.select(id_col, "content_hash")

    return fresh.join(corpus_hashes, "content_hash", "left_anti").select(
        id_col, "content_hash"
    )
