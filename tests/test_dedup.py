"""Unit tests pinning dedup-operator semantics on handcrafted rows:
planted near-duplicates must pair, distinct texts must not, and the
vectorized minhash signature path must behave like a per-document
minimum (same text → same signature; signature length/domain)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun")
NEAR = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the evening sun")
OTHER = ("completely different content about database engines and "
        "columnar storage formats with pages and compression codecs")


def test_minhash_signatures_deterministic_and_bounded(spark):
    from olive_spark.ops import dedup

    df = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, OTHER)], ["doc_id", "text"]
    )
    sigs = {r["doc_id"]: r["minhash"]
            for r in dedup.minhash_signatures(df).collect()}
    assert len(sigs) == 3
    for s in sigs.values():
        assert len(s) == 64
        assert all(0 <= v < (1 << 31) - 1 for v in s)
    # identical text → identical signature; different text → different
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_lsh_pairs_plants_and_rejects(spark):
    from olive_spark.ops import dedup

    df = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, "short text")],
        ["doc_id", "text"],
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard_est"]
             for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in pairs, "planted near-duplicate not found"
    assert pairs[(1, 2)] >= 0.5
    assert all(p == (1, 2) for p in pairs), f"false positives: {pairs}"


def test_ngram_jaccard_exact_verification(spark):
    from olive_spark.ops import dedup

    df = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER)], ["doc_id", "text"]
    )
    rows = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)

    # expected = exact set Jaccard under the operator's own shingle
    # definition (word 3-grams, distinct)
    def sh(text):
        w = text.lower().split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    a, b = sh(BASE), sh(NEAR)
    assert r["jaccard"] == pytest.approx(len(a & b) / len(a | b), abs=1e-4)


def test_exact_dedup_groups(spark):
    from olive_spark.ops import dedup

    df = spark.createDataFrame(
        [(1, "same"), (5, "same"), (3, "same"), (2, "unique")],
        ["doc_id", "text"],
    )
    rows = {r["keep_id"]: r["dup_count"]
            for r in dedup.exact_dedup(df).collect()}
    assert rows == {1: 3, 2: 1}


def test_embedding_neardup_rejects_ragged_vectors(spark):
    """Null/ragged embeddings can't be hyperplane-hashed; lumping them
    into one bucket would split true near-dup pairs — fail loudly."""
    from olive_spark.ops import dedup

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="ragged or null"):
        dedup.embedding_neardup_pairs(df).collect()


def test_semantic_dedup_keeps_one_representative(spark):
    """SemDeDup semantics on handcrafted vectors: scaled copies (cosine
    = 1) keep only the lowest id; orthogonal vectors all survive; the
    kept flag preserves row count."""
    from olive_spark.ops import dedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [2.5, 0.0, 0.0, 0.0]),   # scaled copy of 1 → dropped
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal → kept
        (4, [0.0, 0.0, 1.0, 0.0]),   # orthogonal → kept
        (5, [0.0, 0.0, 3.0, 0.0]),   # scaled copy of 4 → dropped
        (6, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(
        df, n_clusters=4, threshold=0.99, sample_rows=6
    ).collect()
    assert len(out) == len(rows), "row count preserved"
    kept = {r["vec_id"]: r["kept"] for r in out}
    assert kept == {1: True, 2: False, 3: True, 4: True, 5: False, 6: True}
    # scaled copies must share their original's cluster
    cl = {r["vec_id"]: r["cluster"] for r in out}
    assert cl[1] == cl[2] and cl[4] == cl[5]


def test_semantic_dedup_chain_prunes_to_lowest_id(spark):
    """A chain of mutually-similar vectors collapses to the single
    lowest-id representative (drop-if-any-earlier-dup rule)."""
    from olive_spark.ops import dedup

    rows = [
        (10, [1.0, 0.01, 0.0]),
        (11, [1.0, 0.02, 0.0]),
        (12, [1.0, 0.03, 0.0]),
        (20, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["kept"] for r in dedup.semantic_dedup(
        df, n_clusters=2, threshold=0.999, sample_rows=4
    ).collect()}
    assert out == {10: True, 11: False, 12: False, 20: True}


def test_semantic_dedup_rejects_ragged_and_handles_empty(spark):
    from olive_spark.ops import dedup

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="ragged|null"):
        dedup.semantic_dedup(df).collect()

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert dedup.semantic_dedup(empty).collect() == []


def test_incremental_dedup_exact_with_and_without_bloom(spark):
    """Bloom prefilter must change cost only: same exact result as the
    plain anti-join, within-batch dups collapse to min id."""
    from olive_spark.ops import dedup

    corpus = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (13, "delta"), (12, "delta"),
         (14, "epsilon")],
        ["doc_id", "text"],
    )
    want = {(12, ), (14, )}

    plain = dedup.incremental_dedup(new, corpus)
    got_plain = {(r["doc_id"],) for r in plain.collect()}
    assert got_plain == want

    bloom = dedup.build_corpus_bloom(corpus, expected_items=64)
    pre = dedup.incremental_dedup(new, corpus, bloom=bloom)
    got_pre = {(r["doc_id"],) for r in pre.collect()}
    assert got_pre == want
    assert sorted(plain.columns) == sorted(pre.columns)


def test_incremental_dedup_bloom_false_positives_are_confirmed_away(spark):
    """A deliberately tiny bloom (saturated bits → many false
    positives) must still yield the exact result via the confirm join."""
    from olive_spark.ops import dedup

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i}") for i in range(200)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1000 + i, f"new doc {i}") for i in range(50)]
        + [(2000 + i, f"corpus doc {i}") for i in range(50)],
        ["doc_id", "text"],
    )
    # expected_items far below reality → saturated filter, FPP ~ 1
    bloom = dedup.build_corpus_bloom(corpus, expected_items=1, bits_per_key=1)
    out = {r["doc_id"] for r in
           dedup.incremental_dedup(new, corpus, bloom=bloom).collect()}
    assert out == {1000 + i for i in range(50)}


def test_merge_blooms_composes_corpus_increments(spark):
    """OR of two batch blooms ≡ bloom of the union — the incremental
    maintenance path that avoids rescanning the corpus per ingest."""
    import numpy as np

    from olive_spark.ops import dedup

    a = spark.createDataFrame([(1, "one"), (2, "two")], ["doc_id", "text"])
    b = spark.createDataFrame([(3, "three"), (4, "four")], ["doc_id", "text"])
    u = a.unionByName(b)
    n = 1024
    ba = dedup.build_corpus_bloom(a, expected_items=n)
    bb = dedup.build_corpus_bloom(b, expected_items=n)
    bu = dedup.build_corpus_bloom(u, expected_items=n)
    merged = dedup.merge_blooms(ba, bb)
    assert merged["m"] == bu["m"]
    assert np.array_equal(merged["bits"], bu["bits"])
    with pytest.raises(ValueError):
        dedup.merge_blooms(ba, dedup.build_corpus_bloom(a, expected_items=2 * n))


def test_sharded_bloom_equivalent_to_flat(spark):
    """A 2-shard bloom must behave like the flat bloom where it counts:
    zero false negatives (every corpus member hits its shard), the
    shard-wise OR-merge of batch blooms ≡ the union bloom, and
    incremental_dedup returns the IDENTICAL exact result with flat,
    sharded, or no prefilter (FPs only ever change cost)."""
    import numpy as np

    from olive_spark.ops import dedup
    from olive_spark.ops.dedup import _bloom_test_bits

    corpus = spark.createDataFrame(
        [(i, f"sharded corpus doc {i}") for i in range(300)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1000 + i, f"fresh doc {i}") for i in range(40)]
        + [(2000 + i, f"sharded corpus doc {i}") for i in range(40)],
        ["doc_id", "text"],
    )
    flat = dedup.build_corpus_bloom(corpus, expected_items=1024)
    sh = dedup.build_corpus_bloom(corpus, expected_items=1024, n_shards=2)
    assert sh["n_shards"] == 2 and sh["bits"].shape[0] == 2
    # per-shard geometry: ~half the flat bits each
    assert sh["m"] * 2 >= flat["m"]

    # no false negatives: every member's hashes hit its routed shard
    hrows = corpus.select(*dedup._bloom_hashes("text")).collect()
    h1 = np.array([r["__h1"] for r in hrows], dtype=np.uint64)
    h2 = np.array([r["__h2"] for r in hrows], dtype=np.uint64)
    route = h1 % np.uint64(2)
    for s in (0, 1):
        msk = route == s
        if msk.any():
            assert _bloom_test_bits(sh["bits"][s], h1[msk], h2[msk], sh["m"]).all()

    # exactness: same rows out regardless of prefilter shape
    want = {r["doc_id"] for r in dedup.incremental_dedup(new, corpus).collect()}
    assert want == {1000 + i for i in range(40)}
    got_flat = {r["doc_id"] for r in
                dedup.incremental_dedup(new, corpus, bloom=flat).collect()}
    got_sh = {r["doc_id"] for r in
              dedup.incremental_dedup(new, corpus, bloom=sh).collect()}
    assert got_flat == want and got_sh == want


def test_sharded_bloom_merge_is_shard_wise(spark):
    import numpy as np

    from olive_spark.ops import dedup

    a = spark.createDataFrame([(i, f"ingest a {i}") for i in range(50)],
                              ["doc_id", "text"])
    b = spark.createDataFrame([(i, f"ingest b {i}") for i in range(50)],
                              ["doc_id", "text"])
    u = a.unionByName(b)
    ba = dedup.build_corpus_bloom(a, expected_items=512, n_shards=4)
    bb = dedup.build_corpus_bloom(b, expected_items=512, n_shards=4)
    bu = dedup.build_corpus_bloom(u, expected_items=512, n_shards=4)
    merged = dedup.merge_blooms(ba, bb)
    assert np.array_equal(merged["bits"], bu["bits"])
    with pytest.raises(ValueError):  # shard-count mismatch is geometry
        dedup.merge_blooms(ba, dedup.build_corpus_bloom(a, expected_items=512))


def test_fuzzy_pairs_distances_and_edges(spark):
    """Known-distance pairs: exact dup (0), substitution (1),
    transposition (2 under plain Levenshtein), distance-3 excluded;
    1-char strings exercise the empty-variant guard."""
    from olive_spark.ops import dedup

    rows = [
        (1, "widget"), (2, "widget"),      # 0
        (3, "widgex"),                     # 1 from widget
        (4, "widgte"),                     # transposition = 2
        (5, "gadgets"),                    # 3 from widget -> excluded
        (6, "a"), (7, "b"),                # 2 (sub is 1... a->b is 1)
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {(r["a_id"], r["b_id"]): r["dist"]
           for r in dedup.fuzzy_pairs(df, "name", "id", max_dist=2).collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1
    assert got[(1, 4)] == 2 and got[(3, 4)] == 2
    assert (1, 5) not in got and (2, 5) not in got  # dist("widget","gadgets")=3
    assert got[(6, 7)] == 1
    with pytest.raises(ValueError):
        dedup.fuzzy_pairs(df, "name", "id", max_dist=3)


def test_fuzzy_pairs_matches_bruteforce_on_random_strings(spark):
    """Random short strings over a tiny alphabet (so near pairs are
    dense): the blocked join must equal the O(n^2) reference for both
    k=1 and k=2 — a single missed pair means the symmetric-delete
    completeness argument broke."""
    import random

    from olive_spark.ops import dedup

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    rng = random.Random(3)
    rows = [(i, "".join(rng.choice("abc") for _ in range(rng.randrange(1, 7))))
            for i in range(120)]
    df = spark.createDataFrame(rows, ["id", "name"])
    for k in (1, 2):
        expect = {}
        for i, (ia, na) in enumerate(rows):
            for ib, nb in rows[i + 1:]:
                d = lev(na, nb)
                if d <= k:
                    a, b = min(ia, ib), max(ia, ib)
                    expect[(a, b)] = d
        got = {(r["a_id"], r["b_id"]): r["dist"]
               for r in dedup.fuzzy_pairs(df, "name", "id", max_dist=k).collect()}
        assert got == expect, k


def test_fuzzy_pairs_degenerate_duplicate_heavy_corpus(spark):
    """Skew-proofing (r7 audit): blocking now runs over DISTINCT names,
    so a corpus dominated by ONE repeated string must still produce the
    full exact pair set — m duplicate rows contribute m(m-1)/2 dist-0
    pairs via the count>1 expansion plus m pairs per near-variant,
    never m² in-block candidates."""
    from olive_spark.ops import dedup

    rows = [(i, "alpha") for i in range(50)]          # dominant dup
    rows += [(100, "alphb"), (101, "alpah"), (102, "zzzz")]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {(r["a_id"], r["b_id"]): r["dist"]
           for r in dedup.fuzzy_pairs(df, "name", "id", max_dist=2).collect()}
    dup_pairs = {(a, b) for (a, b), d in got.items() if d == 0}
    assert dup_pairs == {(a, b) for a in range(50) for b in range(50) if a < b}
    assert all(got[(i, 100)] == 1 for i in range(50))   # alpha->alphb
    assert all(got[(i, 101)] == 2 for i in range(50))   # transposition
    assert (100, 101) in got                            # variant-variant
    assert not any(102 in p for p in got)               # far string alone
    assert len(got) == 50 * 49 // 2 + 50 + 50 + 1


def test_substring_dup_spans_exact_semantics(spark):
    """Hand-computable fixture for substring_dup_spans (width=4,
    stride=2): docs A and B share their first 6 tokens (so A/B window
    k=0 'w1 w2 w3 w4' and k=1 'w3 w4 w5 w6' both duplicate — covered
    positions 1..6); doc C repeats a 4-token run INTRA-doc at aligned
    strides (both windows identical → duplicated by the corpus-count
    rule); doc D is unique; doc E is shorter than the window and must
    not appear."""
    from olive_spark.ops import dedup

    a = "w1 w2 w3 w4 w5 w6 ax ay"            # 8 tokens
    b = "w1 w2 w3 w4 w5 w6 bx by"            # 8 tokens
    c = "r1 r2 r3 r4 r1 r2 r3 r4"            # k=0 and k=2 identical
    d = "d1 d2 d3 d4 d5 d6 d7 d8"            # unique
    e = "e1 e2 e3"                            # < width → excluded
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d), (5, e)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in dedup.substring_dup_spans(
            df, width=4, stride=2, flag_coverage=0.5
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # 8 tokens, width 4, stride 2 → k in {0,1,2}: 3 windows each
    assert all(out[i]["n_frag"] == 3 for i in (1, 2, 3, 4))
    for i in (1, 2):
        assert out[i]["n_dup"] == 2                  # k=0, k=1 shared
        assert out[i]["dup_cov"] == pytest.approx(6 / 8)
        assert bool(out[i]["flagged"]) is True
    # C: windows k=0 'r1 r2 r3 r4' and k=2 'r1 r2 r3 r4' duplicate
    # (corpus count 2), k=1 'r3 r4 r1 r2' is unique → covered
    # positions 1..4 ∪ 5..8 = all 8
    assert out[3]["n_dup"] == 2
    assert out[3]["dup_cov"] == pytest.approx(1.0)
    assert bool(out[3]["flagged"]) is True
    assert out[4]["n_dup"] == 0
    assert out[4]["dup_cov"] == 0.0
    assert bool(out[4]["flagged"]) is False


def test_substring_dup_spans_phase_shifted_detected(spark):
    """r12 recall fix (VERDICT r11 task #1): the default stride=1 mode
    must detect a duplicated run at ANY pair of offsets — including
    offsets NOT congruent mod the old default stride of 8.  The same
    16-token run sits at offsets 0 / 1 / 3 / 7 across four docs; every
    doc must report the run fully covered.  The legacy stride=8 mode
    (documented subsampling approximation) anchors windows at k*8 and
    misses every cross-phase pair — pinned too, so the docstring's
    recall contract stays honest in both directions."""
    from olive_spark.ops import dedup

    run = " ".join(f"z{i}" for i in range(16))
    rows = [
        (1, run + " a1 a2 a3 a4"),                       # offset 0, 20 toks
        (2, "b1 " + run + " b2 b3 b4"),                  # offset 1, 20 toks
        (3, "c1 c2 c3 " + run + " c4"),                  # offset 3, 20 toks
        (4, " ".join(f"d{i}" for i in range(7)) + " " + run),  # offset 7
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.substring_dup_spans(df, width=16).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_frag"] == 5 and out[4]["n_frag"] == 8
    for i in (1, 2, 3):
        assert out[i]["n_dup"] == 1, out[i]
        assert out[i]["dup_cov"] == pytest.approx(16 / 20)
    assert out[4]["n_dup"] == 1
    assert out[4]["dup_cov"] == pytest.approx(16 / 23)
    # legacy stride=8: only doc 1's run is window-anchored; no other doc
    # produces the same anchored window string, so NOTHING duplicates
    legacy = dedup.substring_dup_spans(df, width=16, stride=8).collect()
    assert all(r["n_dup"] == 0 for r in legacy)


def test_substring_dup_spans_randomized_reference_parity(spark):
    """Randomized model check for the stride=1 exact mode: on random
    small-vocab corpora (natural cross- and intra-doc duplicates
    guaranteed by the tiny vocabulary) every output column must equal a
    pure-Python reference that counts ALL width-token windows and
    unions covered positions — the planted fixtures pin hand-picked
    shapes, this pins the general contract."""
    import random
    from collections import Counter

    from olive_spark.ops import dedup

    rng = random.Random(1213)
    for trial, (width, vocab) in enumerate([(4, 6), (5, 4), (3, 10)]):
        docs = []
        for i in range(30):
            n = rng.randrange(2, 20)
            docs.append((i, " ".join(
                f"t{rng.randrange(vocab)}" for _ in range(n)
            )))
        # reference: exact window counting + interval union
        frags: Counter = Counter()
        toks = {i: s.split() for i, s in docs}
        for i, ts in toks.items():
            for k in range(len(ts) - width + 1):
                frags[" ".join(ts[k:k + width])] += 1
        want = {}
        for i, ts in toks.items():
            n = len(ts)
            if n < width:
                continue
            ks = [
                k for k in range(n - width + 1)
                if frags[" ".join(ts[k:k + width])] >= 2
            ]
            cov = set()
            for k in ks:
                cov.update(range(k, k + width))
            want[i] = (n, n - width + 1, len(ks),
                       min(len(cov), n) / n)
        out = dedup.substring_dup_spans(
            spark.createDataFrame(docs, ["doc_id", "text"]), width=width
        ).collect()
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_frag"], r["n_dup"],
                          r["dup_cov"])
            for r in out
        }
        assert set(got) == set(want), trial
        for i in want:
            assert got[i][:3] == want[i][:3], (trial, i, got[i], want[i])
            assert got[i][3] == pytest.approx(want[i][3]), (trial, i)


def test_substring_dup_spans_overlap_union_not_sum(spark):
    """Coverage is the UNION of overlapping duplicated windows: two
    overlapping dup windows over 6 distinct positions must give 6/n,
    never 8/n — and multi-space tokenization matches the split-filter
    rule."""
    from olive_spark.ops import dedup

    shared = "s1 s2  s3 s4 s5   s6"           # messy whitespace, 6 toks
    rows = [(1, shared + " t1 t2"), (2, shared + " u1 u2")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.substring_dup_spans(df, width=4, stride=2).collect()
    }
    for i in (1, 2):
        assert out[i]["n_tokens"] == 8
        assert out[i]["n_dup"] == 2
        assert out[i]["dup_cov"] == pytest.approx(6 / 8)


def test_remove_dup_spans_keeps_one_canonical_copy(spark):
    """Lee et al. removal semantics: the (min id, min offset)
    occurrence of each duplicated window survives, every other
    occurrence's span is excised — cross-doc, intra-doc, and
    short-doc passthrough."""
    from olive_spark.ops import dedup

    rows = [
        (1, "z1 z2 z3 z4 a1 a2"),          # owns the z-run
        (2, "b1 z1 z2 z3 z4 b2"),          # loses its copy
        (3, "r1 r2 r3 r4 r1 r2 r3 r4"),    # intra-doc: second half goes
        (4, "d1 d2"),                       # shorter than width: untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.remove_dup_spans(df, width=4).collect()
    }
    assert out[1]["clean_text"] == "z1 z2 z3 z4 a1 a2"
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "b1 b2"
    assert out[2]["n_removed"] == 4
    assert out[3]["clean_text"] == "r1 r2 r3 r4"
    assert out[3]["n_removed"] == 4
    assert out[4]["clean_text"] == "d1 d2"
    assert out[4]["n_removed"] == 0
    assert all(out[i]["n_tokens"] == len(rows[i - 1][1].split())
               for i in out)


def test_remove_dup_spans_randomized_reference_parity(spark):
    """Randomized model check of the window-level removal rule against
    a pure-Python reference (canonical = lexicographic (id, offset)
    minimum; remove every position covered by a non-canonical
    duplicated window)."""
    import random

    from olive_spark.ops import dedup

    rng = random.Random(1999)
    for width, vocab in [(3, 5), (4, 7)]:
        docs = []
        for i in range(25):
            n = rng.randrange(1, 16)
            docs.append((i, " ".join(
                f"t{rng.randrange(vocab)}" for _ in range(n)
            )))
        toks = {i: s.split() for i, s in docs}
        occs: dict = {}
        for i, ts in toks.items():
            for k in range(len(ts) - width + 1):
                occs.setdefault(" ".join(ts[k:k + width]), []).append((i, k))
        want = {}
        for i, ts in toks.items():
            rm = set()
            for frag, os_ in occs.items():
                if len(os_) < 2:
                    continue
                owner = min(os_)
                for d, k in os_:
                    if d == i and (d, k) != owner:
                        rm.update(range(k, k + width))
            kept = [t for p, t in enumerate(ts) if p not in rm]
            want[i] = (len(ts), len(rm), " ".join(kept))
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
            for r in dedup.remove_dup_spans(
                spark.createDataFrame(docs, ["doc_id", "text"]),
                width=width,
            ).collect()
        }
        assert got == want, (width, {
            k: (got[k], want[k]) for k in want if got.get(k) != want[k]
        })


def _span_removal_model(docs, width):
    """Pure-Python reference for remove_dup_spans: canonical =
    lexicographic (id, offset) minimum per duplicated window; remove
    every position covered by a non-canonical duplicated window."""
    toks = {i: s.split() for i, s in docs}
    occs: dict = {}
    for i, ts in toks.items():
        for k in range(len(ts) - width + 1):
            occs.setdefault(" ".join(ts[k:k + width]), []).append((i, k))
    want = {}
    for i, ts in toks.items():
        rm = set()
        for os_ in occs.values():
            if len(os_) < 2:
                continue
            owner = min(os_)
            for d, k in os_:
                if d == i and (d, k) != owner:
                    rm.update(range(k, k + width))
        kept = [t for p, t in enumerate(ts) if p not in rm]
        want[i] = (len(ts), len(rm), " ".join(kept))
    return want


def _span_cov_model(docs, width):
    """Pure-Python reference for substring_dup_spans at stride=1:
    (n_frag, n_dup, dup_cov) per doc with >= width tokens."""
    toks = {i: s.split() for i, s in docs}
    count: dict = {}
    for ts in toks.values():
        for k in range(len(ts) - width + 1):
            f = " ".join(ts[k:k + width])
            count[f] = count.get(f, 0) + 1
    want = {}
    for i, ts in toks.items():
        n = len(ts)
        if n < width:
            continue
        cov: set = set()
        ndup = 0
        for k in range(n - width + 1):
            if count[" ".join(ts[k:k + width])] >= 2:
                ndup += 1
                cov.update(range(k, k + width))
        want[i] = (n - width + 1, ndup, len(cov) / n)
    return want


def test_remove_dup_spans_long_doc_many_runs(spark):
    """r13 (VERDICT r12 watch item #1): a pathological LONG document
    riddled with disjoint duplicated runs (ranges → n/stride) must
    stay linear — the old exists()-per-position reconstruction was
    O(n·ranges) inside one task (~3M interpreted ops here).  Pins
    exact parity with the pure-Python reference on a 10⁴-token doc
    carrying ~300 disjoint removal ranges."""
    import time

    from olive_spark.ops import dedup

    width = 16
    run = " ".join(f"R{j}" for j in range(width))
    blocks = []
    u = 0
    for _ in range(312):                     # ~312 disjoint dup runs
        blocks.append(" ".join(f"u{u + j}" for j in range(width)))
        u += width
        blocks.append(run)
    long_doc = " ".join(blocks)              # 9,984 tokens
    docs = [(0, run + " zz0 zz1"), (1, long_doc)]   # doc 0 owns the run
    want = _span_removal_model(docs, width)
    t0 = time.monotonic()
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in dedup.remove_dup_spans(
            spark.createDataFrame(docs, ["doc_id", "text"]), width=width
        ).collect()
    }
    elapsed = time.monotonic() - t0
    assert got == want
    assert got[1][1] == 312 * width          # every long-doc copy excised
    # loose wall bound: linear reconstruction finishes in seconds; the
    # quadratic path took minutes on this layout
    assert elapsed < 120, f"span removal took {elapsed:.0f}s — quadratic?"


def test_span_family_adversarial_layouts(spark):
    """r13 (VERDICT r12 task #7): randomized run-structured corpora —
    docs are concatenations drawn from a small pool of shared runs plus
    unique filler, which naturally produces NESTED repeats (a long run
    containing a shorter shared run), ABUTTING dup runs, and cross-doc
    repeats at arbitrary phases.  Both span ops must match the
    pure-Python reference exactly on every layout."""
    import random

    from olive_spark.ops import dedup

    rng = random.Random(20260816)
    width = 5
    for trial in range(3):
        pool = [
            [f"p{trial}_{r}_{j}" for j in range(rng.randrange(3, 18))]
            for r in range(6)
        ]
        pool.append(pool[0] + pool[1])       # nested: contains two runs
        docs = []
        uniq = 0
        for i in range(18):
            parts: list = []
            for _ in range(rng.randrange(1, 7)):
                if rng.random() < 0.55:
                    parts.extend(rng.choice(pool))      # shared run
                else:
                    n = rng.randrange(1, 8)
                    parts.extend(f"q{uniq + j}" for j in range(n))
                    uniq += n
            if parts:
                docs.append((i, " ".join(parts)))
        want_rm = _span_removal_model(docs, width)
        got_rm = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
            for r in dedup.remove_dup_spans(
                spark.createDataFrame(docs, ["doc_id", "text"]),
                width=width,
            ).collect()
        }
        assert got_rm == want_rm, trial
        want_cov = _span_cov_model(docs, width)
        got_cov = {
            r["doc_id"]: (r["n_frag"], r["n_dup"], r["dup_cov"])
            for r in dedup.substring_dup_spans(
                spark.createDataFrame(docs, ["doc_id", "text"]),
                width=width,
            ).collect()
        }
        assert set(got_cov) == set(want_cov), trial
        for i, (nf, nd, cov) in want_cov.items():
            gnf, gnd, gcov = got_cov[i]
            assert (gnf, gnd) == (nf, nd), (trial, i)
            assert gcov == pytest.approx(cov), (trial, i)


def test_lazy_plans_keep_one_cached_frame_per_operator(spark, tmp_path):
    """Operators whose returned plan reads a frame they persisted release
    the previous call's frame: three calls on distinct inputs, each plan
    run, leave at most one cached frame per operator."""
    from pyspark.sql import functions as F

    from olive_spark.ops import bloom_index, curation, dedup, lsh_index

    docs = spark.createDataFrame(
        [(i, f"{BASE} {i % 7}", f"s{i % 2}") for i in range(40)],
        ["doc_id", "text", "source"],
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5]) for i in range(30)], ["vec_id", "embedding"]
    )
    corpus = docs.filter("doc_id < 20")
    bloom = dedup.build_corpus_bloom(corpus, expected_items=64)
    lsh_dir, bloom_dir = str(tmp_path / "lsh"), str(tmp_path / "bloom")
    lsh_index.build_lsh_index(spark, corpus, lsh_dir)
    bloom_index.build_bloom_index(spark, corpus, bloom_dir, expected_items=64, n_shards=2)
    ops = {
        "minhash_lsh_pairs": lambda d: dedup.minhash_lsh_pairs(d),
        "embedding_neardup_pairs": lambda d: dedup.embedding_neardup_pairs(
            vecs.join(d.select(F.col("doc_id").alias("vec_id")), "vec_id")),
        "incremental_dedup": lambda d: dedup.incremental_dedup(d, corpus, bloom=bloom),
        "probe_index": lambda d: lsh_index.probe_index(spark, d, lsh_dir),
        "probe_bloom_index": lambda d: bloom_index.probe_bloom_index(
            spark, d, corpus, bloom_dir),
        "token_budget_mix": lambda d: curation.token_budget_mix(d, 100),
    }
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    for i, (name, op) in enumerate(ops.items()):
        before = persisted().size()
        for k in range(3):
            # inputs distinct across operators too: Spark shares one cache
            # entry between equal plans
            op(docs.filter(F.col("doc_id") >= 3 * i + k)).count()
        assert persisted().size() - before <= 1, name
