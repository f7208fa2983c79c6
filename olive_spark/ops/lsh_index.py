"""Persisted MinHash-LSH index: cross-run incremental NEAR-duplicate
detection, completing the engine's persisted-index family (exact dedup
has the sharded corpus Bloom in ops/dedup.py, similarity has the IVF
index in ops/similarity.py — near-dup previously recomputed corpus
signatures on every call).

Layout (both legs are snapshot-logged olive tables, so the index gets
time travel / checksum / vacuum for free):

    index_dir/sigs/    (doc_id, minhash array<long>)       64 longs/doc
    index_dir/bands/   (doc_id, band_id, band_hash)        16 rows/doc
    index_dir/_lsh_meta.json   geometry + doc count + build nonce

A probe batch computes ITS OWN signatures (one Arrow pass, shuffle-
free) and equi-joins its band triples against the stored ``bands``
table — the same (band_id, band_hash) bucketing as the in-memory
self-join, never all-pairs; the shared banding definition lives in
dedup.band_hashes so probe and index can't drift.  Candidates re-attach
stored signatures by doc_id for the exact matching-minhash Jaccard
estimate.  At 100 TB the corpus text is never re-read: the index is
~17 slim rows per document, the probe shuffle carries (id, band, hash)
triples, and the new batch is typically broadcast-sized.

Append ordering is the crash-safety contract: ``sigs`` land BEFORE
``bands``.  A crash between the two leaves documents that are merely
UNDISCOVERABLE (no band rows yet — the next append retries them);
the reverse order would leave band rows whose candidates silently
vanish in the signature re-attach join.  ``append_index`` detects and
heals the half-landed state by diffing the two legs' id sets.

The reference format has no index/similarity layer
(/root/reference/src/root.zig:9-16); this is engine extension surface,
following the MinHash-LSH construction of Broder (1997) / Leskovec et
al., "Mining of Massive Datasets" ch. 3 (public algorithms).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, functions as F

from olive_spark.ops.dedup import (
    _BANDS,
    _N_PERM,
    _ROWS,
    band_hashes,
    minhash_signatures,
)

_LSH_META = "_lsh_meta.json"


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, _LSH_META)


def load_meta(index_dir: str) -> dict:
    p = _meta_path(index_dir)
    if not os.path.exists(p):
        raise ValueError(f"no LSH index at {index_dir} (missing {_LSH_META})")
    with open(p, "r") as f:
        meta = json.load(f)
    if (meta.get("n_perm"), meta.get("bands"), meta.get("rows")) != (
        _N_PERM, _BANDS, _ROWS,
    ):
        raise ValueError(
            f"index geometry {meta} does not match this build "
            f"(n_perm={_N_PERM}, bands={_BANDS}, rows={_ROWS}) — "
            "rebuild the index"
        )
    return meta


def _write_meta(index_dir: str, meta: dict) -> None:
    tmp = _meta_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _meta_path(index_dir))


def _append(df: DataFrame, path: str) -> None:
    df.write.format("olive").mode("append").save(path)


def build_lsh_index(
    spark,
    corpus: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Create the index from scratch over ``corpus``.  Refuses to
    overwrite an existing index (append with :func:`append_index`, or
    remove the directory deliberately)."""
    if os.path.exists(_meta_path(index_dir)):
        raise ValueError(
            f"LSH index already exists at {index_dir} — use append_index"
        )
    os.makedirs(index_dir, exist_ok=True)
    # meta is the completion marker: legs left by a build that crashed
    # before writing it would be double-appended by the rebuild
    import shutil

    for leg in ("sigs", "bands"):
        d = os.path.join(index_dir, leg)
        if os.path.exists(d):
            shutil.rmtree(d)
    from olive_spark.datasource import register_olive

    register_olive(spark)
    sigs = minhash_signatures(corpus, text_col, id_col)
    _append(sigs, os.path.join(index_dir, "sigs"))
    # bands re-derive from the WRITTEN sigs, not the lineage: one text
    # scan total, and the stored legs can never disagree
    stored = spark.read.format("olive").load(os.path.join(index_dir, "sigs"))
    _append(band_hashes(stored, id_col), os.path.join(index_dir, "bands"))
    n = stored.count()
    meta = {
        "n_perm": _N_PERM, "bands": _BANDS, "rows": _ROWS,
        "id_col": id_col, "n_docs": int(n),
        "build_id": uuid.uuid4().hex,
    }
    _write_meta(index_dir, meta)
    return meta


def append_index(
    spark,
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Add ``new_docs`` to an existing index (one snapshot version per
    leg).  Ids already indexed are skipped (idempotent re-append), and
    a prior crash between the sigs and bands appends is healed first:
    sig rows with no band rows get their bands regenerated from the
    STORED signatures."""
    from olive_spark.datasource import register_olive

    register_olive(spark)
    meta = load_meta(index_dir)
    if meta["id_col"] != id_col:
        raise ValueError(
            f"index id_col is {meta['id_col']!r}, got {id_col!r}"
        )
    sigs_path = os.path.join(index_dir, "sigs")
    bands_path = os.path.join(index_dir, "bands")
    stored_sigs = spark.read.format("olive").load(sigs_path)
    stored_band_ids = (
        spark.read.format("olive").load(bands_path)
        .select(id_col).distinct()
    )
    # heal: sig ids missing from bands (crash window, below)
    orphans = stored_sigs.join(stored_band_ids, id_col, "left_anti")
    n_healed = orphans.count()
    if n_healed:
        _append(band_hashes(orphans, id_col), bands_path)
    fresh = new_docs.join(
        stored_sigs.select(id_col), id_col, "left_anti"
    )
    new_sigs = minhash_signatures(fresh, text_col, id_col).persist()
    try:
        n_new = new_sigs.count()
        if n_new:
            # ordering contract: sigs BEFORE bands (see module doc)
            _append(new_sigs, sigs_path)
            _append(band_hashes(new_sigs, id_col), bands_path)
    finally:
        new_sigs.unpersist()
    # recompute from the stored sigs rather than folding the delta in:
    # self-heals any count drift from a crash between a prior append's
    # data commit and meta write
    meta["n_docs"] = int(
        spark.read.format("olive").load(sigs_path).count()
    )
    meta["build_id"] = uuid.uuid4().hex
    _write_meta(index_dir, meta)
    return {**meta, "appended": int(n_new), "healed": int(n_healed)}


def ingest_with_lsh_index(
    spark,
    corpus_path: str,
    batch: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    table: str = "data",
) -> dict:
    """ATOMIC corpus+LSH-index ingest (r13, VERDICT r12 task #2):
    append ``batch`` to the snapshot-logged corpus AND its signature /
    band rows to both index legs as ONE multi-table transaction
    (ops/txn.multi_table_txn) — a crash at ANY phase leaves
    all-or-nothing across the three tables.

    This replaces, for the ingest path, the bespoke machinery the
    other index families need: no ordering contract (sigs-before-
    bands), no orphan heal, no idempotent-OR trick — the generalized
    two-phase protocol provides the atomicity the Bloom path
    (bloom_index.ingest_with_bloom_index) hand-rolls.  ``append_index``
    remains for non-transactional callers and still heals pre-r13
    half-landed states.

    Ids already indexed are skipped (idempotent re-ingest) — and the
    skip check runs under the CORPUS table write lock together with the
    transaction itself (r14, ADVICE r13): two concurrent ingests with
    overlapping ids serialize, so the second sees the first's sig rows
    and skips instead of double-inserting into all three tables (the
    lock is reentrant, so the txn's own coordinator-lock acquisition
    on the same path nests).  The meta doc count is advisory and
    self-healing (recomputed from the sigs leg, same as append_index),
    so its post-txn write needs no transactional cover."""
    from olive_spark.datasource import register_olive
    from olive_spark.format.lock import table_write_lock
    from olive_spark.ops.txn import multi_table_txn

    register_olive(spark)
    meta = load_meta(index_dir)
    if meta["id_col"] != id_col:
        raise ValueError(
            f"index id_col is {meta['id_col']!r}, got {id_col!r}"
        )
    sigs_path = os.path.join(index_dir, "sigs")
    bands_path = os.path.join(index_dir, "bands")
    with table_write_lock(corpus_path):
        stored_sigs = spark.read.format("olive").load(sigs_path)
        fresh = batch.join(
            stored_sigs.select(id_col), id_col, "left_anti"
        ).persist()
        try:
            n_new = fresh.count()
            if n_new == 0:
                return {**meta, "appended": 0, "txn": None}
            new_sigs = minhash_signatures(fresh, text_col, id_col)
            out = multi_table_txn(spark, [
                {"path": corpus_path, "op": "append", "df": fresh,
                 "table": table},
                {"path": sigs_path, "op": "append", "df": new_sigs},
                {"path": bands_path, "op": "append",
                 "df": band_hashes(new_sigs, id_col)},
            ])
        finally:
            fresh.unpersist()
    meta["n_docs"] = int(
        spark.read.format("olive").load(sigs_path).count()
    )
    meta["build_id"] = uuid.uuid4().hex
    _write_meta(index_dir, meta)
    return {**meta, "appended": int(n_new), "txn": out["txn"]}


def probe_index(
    spark,
    query: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """(query_id, corpus_id, jaccard_est) for every indexed document
    sharing an LSH band with a query document at estimated Jaccard ≥
    ``threshold``.  A query id that is itself in the index WILL report
    its identity match (jaccard 1.0) — filter on id inequality when
    probing with already-indexed documents."""
    from pyspark import StorageLevel

    from olive_spark.datasource import register_olive
    from olive_spark.ops.relcache import cached_relation, persist_latest

    register_olive(spark)
    meta = load_meta(index_dir)
    idx_id = meta["id_col"]
    # released by the next probe
    q_sigs = persist_latest(
        minhash_signatures(query, text_col, id_col), "lsh_index.probe_index",
        StorageLevel.MEMORY_AND_DISK,
    )
    q_bands = band_hashes(q_sigs, id_col).select(
        F.col(id_col).alias("__qid"), "band_id", "band_hash"
    )
    # index relations come from the version-keyed cache: the fixed
    # Python-DSv2 relation tax was the serve's dominant cost (r12)
    stored_bands = cached_relation(
        spark, os.path.join(index_dir, "bands")
    ).select(
        F.col(idx_id).alias("__cid"), "band_id", "band_hash"
    )
    cand = (
        q_bands.join(stored_bands, ["band_id", "band_hash"])
        .select("__qid", "__cid").dropDuplicates(["__qid", "__cid"])
    )
    stored_sigs = cached_relation(
        spark, os.path.join(index_dir, "sigs")
    ).select(F.col(idx_id).alias("__cid"), F.col("minhash").alias("mh_c"))
    pairs = (
        cand.join(
            q_sigs.select(F.col(id_col).alias("__qid"),
                          F.col("minhash").alias("mh_q")),
            "__qid",
        ).join(stored_sigs, "__cid")
    )
    jac = (
        F.size(
            F.filter(F.zip_with("mh_q", "mh_c", lambda x, y: x == y),
                     lambda m: m)
        ).cast("double") / F.lit(float(_N_PERM))
    )
    return (
        pairs.withColumn("jaccard_est", F.round(jac, 4))
        .filter(F.col("jaccard_est") >= threshold)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("corpus_id"),
            "jaccard_est",
        )
    )


def incremental_neardup(
    spark,
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    append_survivors: bool = True,
) -> "tuple[DataFrame, DataFrame]":
    """The ingest-pipeline wrapper: (survivors, dup_pairs) for a new
    batch against the indexed corpus.

    A new document is a near-dup if it matches ANY indexed document at
    ≥ threshold, or an earlier (lower-id) SURVIVING document within its
    own batch (intra-batch pairs via the same banding, computed in
    memory — new batches are small relative to the corpus).  Survivors
    are appended to the index when ``append_survivors`` (the steady-
    state crawl loop); pass False to dry-run.

    dup_pairs has (doc_id, matched_id, jaccard_est, source ∈
    {'corpus','batch'}).  Deterministic for a fixed batch + index."""
    from olive_spark.ops.dedup import minhash_lsh_pairs

    vs_corpus = probe_index(
        spark, new_docs, index_dir, text_col, id_col, threshold,
    ).select(
        F.col("query_id").alias(id_col),
        F.col("corpus_id").alias("matched_id"),
        "jaccard_est", F.lit("corpus").alias("source"),
    )
    intra = minhash_lsh_pairs(new_docs, text_col, id_col, threshold)
    # batch rule: a doc is dropped for a lower-id batch partner only if
    # that partner itself survives the corpus check — else two corpus-
    # dup twins would BOTH vanish without either entering the index
    corpus_dup_ids = vs_corpus.select(id_col).distinct()
    intra_kept = intra.join(
        corpus_dup_ids.withColumnRenamed(id_col, "doc_a"), "doc_a",
        "left_anti",
    ).select(
        F.col("doc_b").alias(id_col),
        F.col("doc_a").alias("matched_id"),
        "jaccard_est", F.lit("batch").alias("source"),
    )
    # localCheckpoint TRUNCATES the lineage before the append mutates
    # the index both frames read: a mere persist() could silently
    # RECOMPUTE against the post-append index after cache eviction /
    # executor loss (every survivor would then self-match at 1.0) —
    # with the checkpoint, block loss fails loud instead of lying
    dup_pairs = vs_corpus.unionByName(intra_kept).localCheckpoint()
    survivors = new_docs.join(
        dup_pairs.select(id_col).distinct(), id_col, "left_anti"
    ).localCheckpoint()
    if append_survivors:
        append_index(spark, survivors, index_dir, text_col, id_col)
    return survivors, dup_pairs
