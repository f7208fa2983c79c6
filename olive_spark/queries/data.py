"""Testdata → olive conversion, cached under /tmp/olive_cache.

The declared query surface (SURVEY.md §2.7) exercises every capability
*through the olive format*: parquet inputs are converted once per scale
factor to olive chunk files (via pyarrow, no Spark — this also ingests the
TIMESTAMP(NANOS) events table that Spark's parquet reader refuses), then
every query scans olive. The DuckDB oracle reads the original parquet and
never sees olive, so a hash match proves the format round-trip.

Derived synthetic tables (deterministic, reproducible in ANSI SQL so the
oracle can recompute them from parquet):
    customer_nulls  customer with c_acctbal nulled where c_custkey % 10 = 0
                    → exercises validity bitmaps (reference src/write.zig:841-857)
    orders_fsb      o_orderkey + addr20/hash32 fixed-size-binary columns
                    (zero-padded decimal keys) → exercises the global
                    fsb{20,32} dictionary (reference src/dict.zig)
    lineitem_dec    decimal128(12,2) money columns + date32 shipdate
                    → exercises decimal/date mappings (src/write.zig:138-177)
    multi           one chunk file holding BOTH region and nation
                    → exercises multi-table chunks (src/chunk.zig:15-19)
"""

from __future__ import annotations

import os

CACHE_ROOT = "/tmp/olive_cache"
CACHE_VERSION = "v14"  # bump when derived-table definitions change
# v13: text_index postings gained tf/dl columns + n_tokens meta (BM25)
# v14: format version 2 (per-page encodings): rebuild with the new writer
N_CHUNKS = 16  # files per table = scan parallelism floor (real clusters
MIN_CHUNK_ROWS = 256  # get this for free from many-file layouts)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def olive_dir(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(CACHE_ROOT, tag)


def ensure_olive(sf_dir: str) -> str:
    """Convert every parquet table in sf_dir to olive once; return cache dir."""
    out = olive_dir(sf_dir)
    marker = os.path.join(out, "_OLIVE_OK")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == CACHE_VERSION:
                return out
        import shutil

        shutil.rmtree(out)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from olive_spark.format.manifest import merge_manifest, table_summary
    from olive_spark.format.writer import write_chunk

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(src):
            continue
        tdir = os.path.join(out, name)
        os.makedirs(tdir, exist_ok=True)
        pf = pq.ParquetFile(src)
        rows_per_chunk = max(MIN_CHUNK_ROWS, -(-pf.metadata.num_rows // N_CHUNKS))
        idx = 0
        ents = {}
        for batch in pf.iter_batches(batch_size=rows_per_chunk):
            tbl = pa.Table.from_batches([batch])
            blob = write_chunk({name: tbl})
            fn = f"part-{idx:05d}.olive"
            with open(os.path.join(tdir, fn), "wb") as f:
                f.write(blob)
            ent = table_summary(tbl)
            ent["size"] = len(blob)
            ents[fn] = ent
            idx += 1
        merge_manifest(tdir, ents)

    _write_derived(sf_dir, out)
    with open(marker, "w") as f:
        f.write(CACHE_VERSION)
    return out


def _write_derived(sf_dir: str, out: str) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from olive_spark.format.manifest import merge_manifest, table_summary
    from olive_spark.format.writer import write_chunk

    def emit(name: str, tables: dict, bloom_columns: list | None = None) -> None:
        """Write a derived table, split across chunk files like the main
        tables — one file would mean one scan partition, serializing
        every query over the table regardless of cluster size."""
        tdir = os.path.join(out, name)
        os.makedirs(tdir, exist_ok=True)
        if len(tables) > 1:  # multi-table chunks stay single-file
            with open(os.path.join(tdir, "part-00000.olive"), "wb") as f:
                f.write(write_chunk(tables))
            return
        (tname, tbl), = tables.items()
        rows = max(MIN_CHUNK_ROWS, -(-tbl.num_rows // N_CHUNKS))
        ents = {}
        for idx, off in enumerate(range(0, max(tbl.num_rows, 1), rows)):
            sl = tbl.slice(off, rows)
            blob = write_chunk({tname: sl}, bloom_columns=bloom_columns or [])
            fn = f"part-{idx:05d}.olive"
            with open(os.path.join(tdir, fn), "wb") as f:
                f.write(blob)
            ent = table_summary(sl)
            ent["size"] = len(blob)
            ents[fn] = ent
        merge_manifest(tdir, ents)

    # customer_nulls — validity bitmaps through the full write/read path
    import numpy as np

    cust = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    keys = cust.column("c_custkey").to_numpy()
    mask = pa.array(keys % 10 == 0)
    acct = pc.if_else(mask, pa.nulls(cust.num_rows, pa.float64()), cust.column("c_acctbal"))
    emit("customer_nulls", {"customer_nulls": pa.table({
        "c_custkey": cust.column("c_custkey"),
        "c_acctbal": acct,
    })})

    # orders_fsb — global dict over 20B/32B fixed-size binary
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"),
                           columns=["o_orderkey", "o_custkey"])
    custkeys = orders.column("o_custkey").to_pylist()
    addr20 = pa.array([str(k).encode().rjust(20, b"0") for k in custkeys], pa.binary(20))
    hash32 = pa.array([str(k).encode().rjust(32, b"0") for k in custkeys], pa.binary(32))
    emit("orders_fsb", {"orders_fsb": pa.table({
        "o_orderkey": orders.column("o_orderkey"),
        "addr20": addr20,
        "hash32": hash32,
    })})

    # lineitem_dec — decimal + date32 mappings
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"),
                       columns=["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"])
    emit("lineitem_dec", {"lineitem_dec": pa.table({
        "l_orderkey": li.column("l_orderkey"),
        "price_dec": pc.cast(pc.round(li.column("l_extendedprice"), 2), pa.decimal128(12, 2)),
        "disc_dec": pc.cast(pc.round(li.column("l_discount"), 2), pa.decimal128(12, 2)),
        "ship_date": pc.cast(li.column("l_shipdate"), pa.date32()),
    })})

    # embeddings_dup — embeddings plus planted near-duplicates: the first
    # 50 vectors re-emitted at vec_id+1_000_000 scaled by 1.25 (scaling
    # preserves cosine exactly → hyperplane LSH must bucket them together)
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    head = emb.slice(0, min(50, emb.num_rows))
    flat = head.column("embedding").combine_chunks()
    scaled = pa.ListArray.from_arrays(
        flat.offsets, pc.multiply(flat.values, pa.scalar(1.25, flat.values.type))
    )
    dup = pa.table({
        "vec_id": pc.add(head.column("vec_id"), 1_000_000),
        "embedding": scaled,
    })
    emit("embeddings_dup", {"embeddings_dup": pa.concat_tables(
        [emb.select(["vec_id", "embedding"]), dup]
    )})

    # customer_uints — unsigned + time-of-day types (SURVEY.md §1.2
    # widenings: u8→i16, u16→i32, u32→i64, u64→decimal(20,0),
    # time32(s)→i32, time64(µs)→i64); values derived from c_custkey so the
    # oracle can recompute them in ANSI SQL
    ck = cust.column("c_custkey")
    ck_np = ck.to_numpy()
    emit("customer_uints", {"customer_uints": pa.table({
        "c_custkey": ck,
        "u8": pa.array((ck_np % 251).astype("uint8"), pa.uint8()),
        "u16": pa.array((ck_np % 65521).astype("uint16"), pa.uint16()),
        "u32": pa.array(ck_np.astype("uint32"), pa.uint32()),
        "u64": pa.array(ck_np.astype("uint64") + 2**63, pa.uint64()),
        "t32_s": pa.array((ck_np % 86400).astype("int32"), pa.time32("s")),
        "t64_us": pa.array((ck_np % 86400).astype("int64") * 1_000_000, pa.time64("us")),
    })})

    # documents_pii — documents with synthetic PII appended (the driver
    # corpus has no emails/phones); the suffix is a pure function of
    # doc_id so the oracle rebuilds it in ANSI SQL
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text", "lang", "source"])
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    pii = pa.array(
        [f"{t} contact user{i}@example.com or call 555-0{i % 10000}."
         for i, t in zip(ids, texts)],
        pa.string(),
    )
    emit("documents_pii", {"documents_pii": pa.table({
        "doc_id": docs.column("doc_id"),
        "lang": docs.column("lang"),
        "source": docs.column("source"),
        "text_pii": pii,
    })})

    # multi — one chunk file holding two named tables
    region = pq.read_table(os.path.join(sf_dir, "region.parquet"))
    nation = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    emit("multi", {"region": region, "nation": nation})

    # documents_hash — md5 content keys with a per-file Bloom filter:
    # hash values scatter uniformly, so chunk min/max ranges all overlap
    # and stats pruning is useless — exactly the case the write-side
    # bloomColumns option exists for (point lookups by content hash at
    # 100 TB read only the files whose Bloom admits the key).  md5 of
    # the stringified doc_id so the DuckDB oracle recomputes it exactly.
    import hashlib

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    ids = docs.column("doc_id").to_pylist()
    emit(
        "documents_hash",
        {"documents_hash": pa.table({
            "doc_id": docs.column("doc_id"),
            "h": pa.array(
                [hashlib.md5(str(i).encode()).hexdigest() for i in ids],
                pa.string(),
            ),
        })},
        bloom_columns=["h"],
    )

    # documents_media — REAL planted media bytes, one PNG + one WAV per
    # document, every byte a pure function of doc_id (gradient pixels
    # v(x,y) = (doc_id+x+2y) % 256; PCM samples v(i) = (doc_id+i) % 201
    # - 100) so a DuckDB oracle recomputes the full decode output
    # integer-exactly.  The PNGs alternate Sub/Up scanline filters and
    # carry CRCs; the WAVs are stdlib-written RIFF PCM16 — decoding them
    # (ops/media_codecs.py) is a genuine codec path, not byte
    # arithmetic.
    from olive_spark.ops.media_codecs import png_encode_gray, wav_encode_pcm16

    ids = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id"]).column("doc_id").to_pylist()
    pngs, wavs = [], []
    for i in ids:
        w = i % 48 + 4
        h = (i * 3) % 48 + 4
        pngs.append(png_encode_gray(
            [bytes(((i + x + 2 * y) % 256) for x in range(w))
             for y in range(h)]
        ))
        nf = i % 1000 + 100
        ch = i % 2 + 1
        rate = 8000 + (i % 3) * 4000
        wavs.append(wav_encode_pcm16(
            [((i + k) % 201) - 100 for k in range(nf * ch)], ch, rate
        ))
    emit("documents_media", {"documents_media": pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "png": pa.array(pngs, pa.binary()),
        "wav": pa.array(wavs, pa.binary()),
    })})

    # events_versioned — a snapshot-logged table with two commit
    # versions for the time-travel query: v1 holds events with
    # user_id < 50, v2 appends the rest.  Entries are appended exactly
    # like the DSv2 writer's commit would.
    from olive_spark.format.snapshots import append_entry

    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    vdir = os.path.join(out, "events_versioned")
    os.makedirs(vdir, exist_ok=True)
    for idx, part in enumerate((
        ev.filter(pc.less(ev.column("user_id"), 50)),
        ev.filter(pc.greater_equal(ev.column("user_id"), 50)),
    )):
        fn = f"part-{idx:05d}.olive"
        with open(os.path.join(vdir, fn), "wb") as f:
            f.write(write_chunk({"events_versioned": part}))
        append_entry(vdir, add=[fn])
    monotonize_log_ts(vdir)


def monotonize_log_ts(vdir: str) -> None:
    """Force the snapshot log's commit timestamps STRICTLY increasing.
    The timestamp time-travel query needs ts(v1) < ts(v2): back-to-back
    appends on a coarse clock can stamp equal ts, and
    version_at_timestamp's at-or-before rule would then resolve any
    asof >= ts1 to v2 (ADVICE r11).  Deterministic (+2ms bumps), no
    sleeps; called at fixture build AND from the query so caches built
    before this fix heal in place."""
    from olive_spark.format.snapshots import _write_log, load_log

    vlog = load_log(vdir)
    prev = None
    bumped = False
    for e in vlog["entries"]:
        t = e.get("ts")
        if isinstance(t, (int, float)):
            if prev is not None and float(t) <= prev:
                e["ts"] = prev + 0.002
                bumped = True
            prev = float(e["ts"])
    if bumped:
        _write_log(vdir, vlog)


def load_partitioned(spark, sf_dir: str, table: str, partition_by: str,
                     columns: list[str] | None = None):
    """Scan ``table`` through a hive-partitioned olive layout, converting
    once per (table, partition column) into the cache.  Reads prune
    whole ``col=value`` directories on =/IN filters — the 100 TB path
    for low-cardinality selective predicates."""
    from olive_spark.datasource import register_olive

    register_olive(spark)
    root = ensure_olive(sf_dir)
    out = os.path.join(root, f"{table}_by_{partition_by}")
    marker = os.path.join(out, "_PART_OK")
    if not os.path.exists(marker):
        df = load(spark, sf_dir, table)
        df.repartition(partition_by).write.format("olive") \
            .option("partitionBy", partition_by).mode("append").save(out)
        with open(marker, "w") as f:
            f.write("ok")
    # pushdown stays on here: partitioned scans exist to demonstrate
    # directory pruning, and their query plans are single filtered scans
    # (see load()'s docstring for why multi-scan plans must not opt in)
    r = spark.read.format("olive").option("pushdown", "true")
    if columns:
        r = r.option("columns", ",".join(columns))
    return r.load(out)


# Resolved-relation cache: every spark.read...load() pays two Python
# plan-worker round trips (schema(), then partitions() at first action)
# — a fixed ~0.3-0.5 s per fresh relation that dwarfs the actual scan
# of warm small tables.  Non-pushdown relations are safe to reuse for
# the life of a session (their partition list is always the full file
# set, so the DSv2 readInfo-reuse hazard documented on load() cannot
# bite); pushdown relations are never cached.  Olive cache dirs are
# immutable per CACHE_VERSION, so no file-level invalidation is needed.
#
# Each key holds a small ROUND-ROBIN POOL, not a single DataFrame:
# returning the same object twice inside one query makes self-joins
# ambiguous (two loads of `nation` in TPC-H q7 must be distinct
# relations or every column reference collides).  Rotation guarantees
# up to _DF_POOL consecutive loads of one key yield distinct objects —
# more same-table loads than that in a single query would collide, so
# keep _DF_POOL ≥ the deepest self-join fan-in in the query surface.
_DF_CACHE: dict[tuple, dict] = {}
_DF_POOL = 4


def load(spark, sf_dir: str, table: str, columns: list[str] | None = None,
         chunk_table: str | None = None, pushdown: bool = False):
    """Scan an olive table as a DataFrame (converting/caching on demand).

    ``pushdown`` (planning-time file/page pruning from pushed filters)
    is off by default: Spark caches ONE scan plan per loaded relation,
    so any plan where the relation appears both filtered and unfiltered
    (self-joins, count()-then-filter, a pushed-through-window filter on
    one branch of a reused lineage) would silently reuse the pruned
    partition list for the unfiltered scan (see OliveReader.pushFilters).
    Opt in only for queries whose whole plan is a single filtered scan."""
    from olive_spark.datasource import register_olive

    register_olive(spark)
    path = os.path.join(ensure_olive(sf_dir), table)
    key = None
    slot = None
    if not pushdown:
        key = (
            spark.sparkContext.applicationId,
            path,
            tuple(columns) if columns else None,
            chunk_table,
        )
        entry = _DF_CACHE.get(key)
        if entry is None:
            if len(_DF_CACHE) > 512:
                _DF_CACHE.clear()
            entry = _DF_CACHE[key] = {"pool": [], "calls": 0}
        slot = entry["calls"] % _DF_POOL
        entry["calls"] += 1
        if slot < len(entry["pool"]):
            return entry["pool"][slot]
    r = spark.read.format("olive")
    if pushdown:
        r = r.option("pushdown", "true")
    if columns:
        r = r.option("columns", ",".join(columns))
    if chunk_table:
        r = r.option("table", chunk_table)
    df = r.load(path)
    if key is not None:
        _DF_CACHE[key]["pool"].append(df)
    return df
