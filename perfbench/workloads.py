"""The workloads.  Each one builds its inputs from the seed, sets up its
tables through the program, then runs a fixed round of operations in a
closed loop (one client, no think time).  Every operation's output is
checked; a wrong answer counts as a failed operation, never as a skipped
one.

Sizes are chosen so that a run of each workload, set-up included, stays
around a minute on a 4-core machine (the benchmark's runs share a fixed
time budget), while bytes still outweigh Spark's fixed per-action cost on
the lineitem table of ``ingest_scan_curate``.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

MB = 1e6
SETUP_REPS = 4


def dir_bytes(path: str, suffix: str = "") -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(suffix)
    )


def write_parquet_parts(table: pa.Table, out: str, parts: int) -> None:
    """The generated source files the program ingests: ``parts`` parquet
    files in row order, one Spark input partition each."""
    os.makedirs(out)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out, f"part-{i:04d}.parquet"),
            compression="none",
        )


def format_write_files(table: pa.Table, out: str, rows_per_file: int, first: int = 0) -> None:
    """Write ``table`` as chunk files ``part-<first>…`` through the format
    layer, the way ``olive_spark.queries.data`` ingests fixtures:
    ``write_chunk`` per file, then one ``merge_manifest`` for the
    directory."""
    from olive_spark.format import write_chunk
    from olive_spark.format.manifest import merge_manifest, table_summary

    os.makedirs(out, exist_ok=True)
    ents = {}
    for i, off in enumerate(range(0, table.num_rows, rows_per_file), first):
        sl = table.slice(off, rows_per_file)
        blob = write_chunk({"data": sl})
        name = f"part-{i:05d}.olive"
        with open(os.path.join(out, name), "wb") as f:
            f.write(blob)
        ent = table_summary(sl)
        ent["size"] = len(blob)
        ents[name] = ent
    merge_manifest(out, ents)


class Workload:
    """A named sequence of parts (a table and the operations on it), set
    up and run in order, with the bookkeeping they share: the timed set-up
    of each ingested table and the Arrow bytes each full-scan operation
    returns."""

    def __init__(self, run, name: str, parts: tuple) -> None:
        self.run = run
        self.name = name
        self.spark = run.spark
        self.work = run.work
        self.rng = np.random.default_rng([run.seed, 7])
        self.ingests: list = []  # (Arrow bytes per part, [seconds per part])
        self.scan_bytes: dict = {}  # full-scan op name -> Arrow bytes it returns
        self.parts = [p(self) for p in parts]

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def round(self) -> None:
        for p in self.parts:
            p.round()

    def stored_bytes(self) -> int:
        return sum(p.stored_bytes() for p in self.parts)

    def user_bytes(self) -> int:
        return sum(p.user_bytes() for p in self.parts)

    def probe_table(self) -> tuple:
        """The first part's table, which the per-layer probes read."""
        return self.parts[0].probe_table()

    def timed_setup(self, table: pa.Table, ingest) -> None:
        """Ingest ``table`` in SETUP_REPS equal parts, ``ingest(i, part)``
        each, timing every part.  The first part of a run also starts the
        Python workers; the median discards it."""
        step = -(-table.num_rows // SETUP_REPS)
        times = []
        for i in range(SETUP_REPS):
            part = table.slice(i * step, step)
            t = time.perf_counter()
            ingest(i, part)
            times.append(time.perf_counter() - t)
        self.ingests.append((table.nbytes / SETUP_REPS, times))

    def setup_s(self) -> float:
        """Every table's whole ingest at its median part's pace."""
        return sum(SETUP_REPS * statistics.median(t) for _, t in self.ingests)

    def final_check(self) -> "bool | None":
        """Every part's check of its final state; None if no part has one."""
        done = [ok for ok in (p.final_check() for p in self.parts) if ok is not None]
        return all(done) if done else None

    def e2e(self, med: dict, cpu: dict) -> dict:
        """``med``, ``cpu``: median seconds and CPU seconds per operation name."""
        mb = sum(self.scan_bytes.values()) / MB
        return {
            "scan_mb_s": mb / sum(med[op] for op in self.scan_bytes),
            "scan_mb_per_cpu_s": mb / sum(cpu[op] for op in self.scan_bytes),
            "bytes_per_user_byte": self.stored_bytes() / self.user_bytes(),
        }


class Part:
    """One table of a workload and the operations on it."""

    def __init__(self, wl: Workload) -> None:
        self.wl = wl
        self.run = wl.run
        self.spark = wl.spark
        self.work = wl.work

    def final_check(self) -> "bool | None":
        return None


# ---- ingest_scan_curate: a bulk lineitem table and a document corpus -------


class BulkScan(Part):
    """One lineitem-shaped table, bulk-written by Spark through
    ``format("olive")``, then full-width, projected and key-range scans."""

    ROWS = 400_000
    FILES = 40

    def setup(self) -> None:
        self.li = gen.lineitem(self.run.seed, self.ROWS)
        self.wl.scan_bytes["scan_full"] = self.li.table.nbytes
        self.path = os.path.join(self.work, "lineitem")
        self.span = max(1, int(self.li.orderkey[-1]) // 100)  # a 1% key range
        self.wl.timed_setup(self.li.table, self._write)
        if not self._count_files(self.path):
            raise RuntimeError(f"bulk write produced an unexpected file count in {self.path}")
        self.warm_up()

    def _write(self, i: int, part: pa.Table) -> None:
        src = os.path.join(self.work, f"lineitem_src{i}")
        write_parquet_parts(part, src, self.FILES // SETUP_REPS)
        self.run.setup_call(
            "write_bulk", "datasource",
            lambda: self.spark.read.parquet(src).write.format("olive").mode("append").save(
                self.path),
        )

    def _count_files(self, path: str) -> bool:
        from olive_spark.datasource.olive_datasource import _list_chunk_files

        return len(_list_chunk_files(path)) == self.FILES

    def df(self, pushdown: bool = False):
        r = self.spark.read.format("olive")
        if pushdown:
            r = r.option("pushdown", "true")
        return r.load(self.path)

    def _full(self) -> dict:
        from pyspark.sql import Observation

        obs = Observation("chk")
        self.df().observe(obs, *lineitem_checksum_exprs()).write.format(
            "noop").mode("overwrite").save()
        return obs.get

    def _proj(self) -> dict:
        from pyspark.sql import functions as F

        rows = self.run.planned(
            self.df().groupBy("l_shipmode")
            .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("c"))
        ).collect()
        return {r["l_shipmode"]: r["c"] for r in rows}

    def _pruned(self, lo: int, hi: int) -> dict:
        from pyspark.sql import functions as F

        return self.run.planned(self.df(pushdown=True).filter(
            F.col("l_orderkey").between(lo, hi)
        ).agg(*lineitem_checksum_exprs())).collect()[0].asDict()

    def warm_up(self) -> None:
        """One untimed pass over each query shape, so that the JVM has
        compiled the scan path before the first measured operation."""
        self._full()
        self._proj()
        self._pruned(1, self.span)

    def round(self) -> None:
        run, li = self.run, self.li
        for _ in range(4):
            run.op("scan_full", "datasource", self._full,
                   check=lambda got: checksum_equal(got, li.checksum()))

        want = np.bincount(li.mode_idx, weights=li.price_cents, minlength=7)
        modes = gen.SHIPMODES.values.to_pylist()
        proj_expect = {m: int(round(w)) for m, w in zip(modes, want) if w}
        for _ in range(2):
            run.op("scan_proj", "datasource", self._proj, check=lambda got: got == proj_expect)

        for _ in range(2):
            lo = int(self.wl.rng.integers(1, int(li.orderkey[-1]) - self.span))
            hi = lo + self.span
            mask = (li.orderkey >= lo) & (li.orderkey <= hi)
            run.op("scan_pruned", "datasource", lambda lo=lo, hi=hi: self._pruned(lo, hi),
                   check=lambda got, m=mask: checksum_equal(got, li.checksum(m)))

    def stored_bytes(self) -> int:
        return dir_bytes(self.path, ".olive")

    def user_bytes(self) -> int:
        return self.li.table.nbytes

    def probe_table(self) -> tuple:
        """(directory, rows, a 1% key-range predicate, its full-scan op)."""
        mid = int(self.li.orderkey[-1]) // 2
        preds = [("l_orderkey", ">=", mid), ("l_orderkey", "<=", mid + self.span)]
        return self.path, self.li.table, preds, "scan_full"


def lineitem_checksum_exprs():
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum("l_orderkey").alias("orderkey"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
        F.sum(F.crc32(F.col("l_comment").cast("binary"))).alias("comment_crc"),
        F.sum(F.length("l_comment")).alias("comment_len"),
    ]


def checksum_equal(got: dict, want: dict) -> bool:
    """Spark returns NULL sums over zero rows; the generator returns 0."""
    return all((got.get(k) or 0) == v for k, v in want.items())


class LlmCuration(Part):
    """A corpus of small chunk files (more than the process-wide header
    cache holds) with injected duplicates, plus clustered embeddings; the
    round runs dedup and top-k operators."""

    DOCS = 24_000
    DOCS_PER_FILE = 20  # 1,200 files > the 1,024-entry header cache
    BATCH = 2_000
    MINHASH_DOCS = 500
    VECS = 50_000
    DIM = 64
    CLUSTERS = 16
    QUERIES = 16
    K = 10

    def setup(self) -> None:
        seed = self.run.seed
        self.corpus = gen.corpus(seed, self.DOCS, self.BATCH)
        self.emb, self.vecs = gen.embeddings(seed, self.VECS, self.DIM, self.CLUSTERS)
        self.q = gen.queries(seed, self.QUERIES, self.DIM, self.vecs)
        self.wl.scan_bytes["scan_corpus"] = self.corpus.docs.nbytes
        import zlib

        texts = self.corpus.docs.column("text").to_pylist()
        self.corpus_sum = {
            "rows": len(texts),
            "doc_id": int(self.corpus.docs.column("doc_id").to_numpy().sum()),
            "text_crc": sum(zlib.crc32(t.encode()) for t in texts),
        }
        self.batch_dir = os.path.join(self.work, "batch")
        format_write_files(self.corpus.batch, self.batch_dir, self.BATCH)
        self.emb_dir = os.path.join(self.work, "embeddings")
        format_write_files(self.emb, self.emb_dir, self.VECS // 8)
        self.corpus_dir = os.path.join(self.work, "corpus")
        self.wl.timed_setup(self.corpus.docs, self._ingest)
        self._truth()

    def _ingest(self, i: int, part: pa.Table) -> None:
        first = i * part.num_rows // self.DOCS_PER_FILE
        self.run.setup_call(
            "format_write_files", "format",
            lambda: format_write_files(part, self.corpus_dir, self.DOCS_PER_FILE, first),
        )

    def _truth(self) -> None:
        """Brute-force top-k per query and the near-duplicate families."""
        sims = self.q @ self.vecs.astype(np.float64).T
        self.topk = np.argsort(-sims, axis=1)[:, : self.K]
        self.sims = sims
        parent = list(range(self.DOCS + self.BATCH))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.corpus.near_pairs:
            parent[find(a)] = find(b)
        first: dict = {}
        for i, t in enumerate(self.corpus.docs.column("text").to_pylist()):
            if t in first:
                parent[find(i)] = find(first[t])
            else:
                first[t] = i
        self.family = find
        texts = self.corpus.docs.column("text").to_pylist()[: self.MINHASH_DOCS]
        pos: dict = {}
        self.exact_pairs = set()
        for i, t in enumerate(texts):
            for j in pos.get(t, ()):
                self.exact_pairs.add((j, i))
            pos.setdefault(t, []).append(i)

    def docs(self):
        return self.spark.read.format("olive").load(self.corpus_dir)

    def round(self) -> None:
        from pyspark.sql import functions as F

        from olive_spark.ops import dedup as D
        from olive_spark.ops import similarity as SIM

        run = self.run
        for _ in range(2):
            run.op("scan_corpus", "datasource",
                   lambda: run.planned(self.docs().agg(
                       F.count(F.lit(1)).alias("rows"), F.sum("doc_id").alias("doc_id"),
                       F.sum(F.crc32(F.col("text").cast("binary"))).alias("text_crc"),
                   )).collect()[0].asDict(),
                   check=lambda got: checksum_equal(got, self.corpus_sum))

        run.op("exact_dedup", "dedup",
               lambda: {r["keep_id"]: r["dup_count"]
                        for r in run.planned(
                            D.exact_dedup(self.docs()).filter("dup_count > 1")).collect()},
               check=lambda got: got == self.corpus.exact_groups)

        def minhash():
            sub = self.docs().filter(F.col("doc_id") < self.MINHASH_DOCS)
            return {(r["doc_a"], r["doc_b"])
                    for r in run.planned(D.minhash_lsh_pairs(sub)).collect()}

        run.op("minhash_lsh_pairs", "dedup", minhash,
               check=lambda got: self.exact_pairs <= got,
               extra=lambda got: {"candidate_precision": self._precision(got)})

        batch = self.spark.read.format("olive").load(self.batch_dir)
        run.op("incremental_dedup", "dedup",
               lambda: {r["doc_id"]
                        for r in run.planned(D.incremental_dedup(batch, self.docs())).collect()},
               check=lambda got: got == self.corpus.batch_fresh)

        emb = self.spark.read.format("olive").load(self.emb_dir)
        qrows = [(-1 - i, v.tolist()) for i, v in enumerate(self.q)]
        run.op("cosine_topk_arrow", "similarity",
               lambda: run.planned(SIM.cosine_topk_arrow(emb, qrows, k=self.K)).collect(),
               check=self._check_topk)

    def _precision(self, pairs: set) -> float:
        if not pairs:
            return 0.0
        return sum(self.family(a) == self.family(b) for a, b in pairs) / len(pairs)

    def _check_topk(self, rows) -> bool:
        got: dict = {}
        for r in rows:
            got.setdefault(-1 - r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
        for qi in range(self.QUERIES):
            ids = {n for n, _ in got.get(qi, [])}
            want = set(self.topk[qi].tolist())
            if ids != want:
                # a tie at the k-th place may pick either neighbour
                kth = self.sims[qi, self.topk[qi, -1]]
                if len(ids) != self.K or any(
                    abs(self.sims[qi, n] - kth) > 1e-6 for n in ids ^ want
                ):
                    return False
            if any(abs(c - self.sims[qi, n]) > 1e-6 for n, c in got.get(qi, [])):
                return False
        return True

    def stored_bytes(self) -> int:
        return dir_bytes(self.corpus_dir, ".olive")

    def user_bytes(self) -> int:
        return self.corpus.docs.nbytes


# ---- table_mutations: an orders table under the table verbs ---------------


class TableMutations(Part):
    """An orders-shaped, snapshot-logged table under a seeded mix of
    appends, deletes, updates, a merge, a CDC drain, read-after-mutate
    scans and compaction, replayed step by step in pyarrow."""

    ROWS = 100_000
    FILES = 20
    SIZES = {"append": 500, "delete_range": 100, "merge_small": 300, "cdc_drain": 300}

    def setup(self) -> None:
        self.base = gen.orders(self.run.seed, self.ROWS)
        self.path = os.path.join(self.work, "orders")
        self.steps = iter(gen.mutation_steps(self.run.seed, self.ROWS, 1000, self.SIZES))
        self.wl.timed_setup(self.base, self._write)
        self.state = self.base
        self.seq = 0
        self.cdc_src = os.path.join(self.work, "cdc_src")
        self.ckpt = os.path.join(self.work, "cdc_ckpt")
        # one untimed read, so that the first measured scan does not pay
        # for starting the read path
        if not checksum_equal(self._scan(), orders_checksum(self.state)):
            raise RuntimeError(f"the ingested orders table in {self.path} reads back wrong")

    def _scan(self) -> dict:
        return self.run.planned(self.spark.read.format("olive").load(self.path)
                                .agg(*orders_checksum_exprs())).collect()[0].asDict()

    def _write(self, i: int, part: pa.Table) -> None:
        src = os.path.join(self.work, f"orders_src{i}")
        write_parquet_parts(part, src, self.FILES // SETUP_REPS)
        self.run.setup_call(
            "write_base", "datasource",
            lambda: self.spark.read.parquet(src).write.format("olive").mode("append").save(
                self.path),
        )

    def round(self) -> None:
        for _ in gen.ROUND:
            self.step(next(self.steps))

    def step(self, st) -> None:
        from olive_spark.ops import maintenance as M
        from olive_spark.streaming import ops as S

        run, a, spark, path = self.run, st.args, self.spark, self.path
        key = "o_orderkey"
        if st.verb == "append":
            tb = gen.orders(a["first_key"], a["rows"], a["first_key"], "append")
            df = spark.createDataFrame(tb)
            run.op("append", "datasource",
                   lambda: df.write.format("olive").mode("append").save(path))
            self.state = pa.concat_tables([self.state, tb])
        elif st.verb == "delete_where":
            cond = f"{key} BETWEEN {a['lo']} AND {a['hi']}"
            mask = self._in_range(a)
            n = int(mask.sum())
            self.verb("delete_where", lambda: M.delete_where(spark, path, cond),
                      lambda r: r["rows_deleted"] == n, n)
            self.state = self.state.filter(pa.array(~mask))
        elif st.verb == "update_where":
            cond = f"{key} BETWEEN {a['lo']} AND {a['hi']}"
            mask = self._in_range(a)
            n = int(mask.sum())
            self.verb("update_where",
                      lambda: M.update_where(
                          spark, path, {"o_shippriority": f"o_shippriority + {a['bump']}"}, cond),
                      lambda r: r["rows_updated"] == n, n)
            col = self.state.column("o_shippriority").to_numpy()
            i = self.state.schema.get_field_index("o_shippriority")
            self.state = self.state.set_column(
                i, "o_shippriority", pa.array(np.where(mask, col + a["bump"], col)))
        elif st.verb == "merge_small":
            self.seq += 1
            src_tb = gen.merge_source(st, self.seq)
            src = spark.createDataFrame(src_tb)
            self.verb(st.verb, lambda: M.merge_upsert(spark, path, src, [key]),
                      lambda r: "version" in r, src_tb.num_rows)
            self._upsert(src_tb)
        elif st.verb == "cdc_drain":
            self.seq += 1
            src_tb = gen.merge_source(st, self.seq)
            # the change batch lands in the CDC source directory through the
            # format layer; the drain is what is measured
            from olive_spark.format import write_chunk

            os.makedirs(self.cdc_src, exist_ok=True)
            with open(os.path.join(self.cdc_src, f"cdc-{self.seq:05d}.olive"), "wb") as f:
                f.write(write_chunk({"data": src_tb}))
            sdf = S.read_stream(spark, self.cdc_src)
            before = dict(run.streams)
            run.op("cdc_drain", "streaming",
                   lambda: S.stream_upsert_available_now(
                       sdf, path, [key], self.ckpt, source_path=self.cdc_src),
                   check=lambda runs: runs >= 1,
                   extra=lambda _: {
                       "lifecycles": run.streams["lifecycles"] - before["lifecycles"],
                       "batches": run.streams["batches"] - before["batches"],
                   })
            self._upsert(src_tb)
        elif st.verb == "scan_after_mutate":
            self.wl.scan_bytes["scan_after_mutate"] = self.state.nbytes
            want = orders_checksum(self.state)
            run.op("scan_after_mutate", "datasource", self._scan,
                   check=lambda got: checksum_equal(got, want))
        elif st.verb == "compact":
            n = self.state.num_rows
            self.verb("compact",
                      lambda: M.compact(spark, path, target_rows=self.ROWS // self.FILES),
                      lambda r: r["rows"] == n, 0)

    def verb(self, name, fn, check, changed_rows: int) -> None:
        """A maintenance verb, with its returned stats and the bytes of
        the files it created recorded for write amplification."""
        before = self._files()
        row_bytes = self.state.nbytes / self.state.num_rows

        def extra(stats):
            after = self._files()
            return {
                "files_rewritten": stats.get("files_rewritten", 0),
                "files_dv": stats.get("files_dv", 0),
                "written_bytes": sum(sz for f, sz in after.items() if f not in before),
                "changed_bytes": changed_rows * row_bytes,
            }

        self.run.op(name, "maintenance", fn, check=check, extra=extra)

    def _files(self) -> dict:
        """{path: size} of the table's files, leaving out the history
        directory: a verb moves replaced files there, it does not write them."""
        out = {}
        for root, dirs, files in os.walk(self.path):
            if "_olive_history" in dirs:
                dirs.remove("_olive_history")
            for f in files:
                out[os.path.join(root, f)] = os.path.getsize(os.path.join(root, f))
        return out

    def _in_range(self, a: dict) -> np.ndarray:
        k = self.state.column("o_orderkey").to_numpy()
        return (k >= a["lo"]) & (k <= a["hi"])

    def _upsert(self, src: pa.Table) -> None:
        import pyarrow.compute as pc

        keep = pc.invert(pc.is_in(self.state.column("o_orderkey"), src.column("o_orderkey")))
        self.state = pa.concat_tables([self.state.filter(keep), src])

    def final_check(self) -> bool:
        """The whole table, row for row, equals the pyarrow replay."""
        got = self.spark.read.format("olive").load(self.path).toArrow()
        got = got.select(self.state.schema.names).cast(self.state.schema)
        order = [("o_orderkey", "ascending")]
        return got.sort_by(order).equals(self.state.sort_by(order))

    def stored_bytes(self) -> int:
        from olive_spark.datasource.olive_datasource import _list_chunk_files

        live = sum(os.path.getsize(f) for f in _list_chunk_files(self.path))
        dv = os.path.join(self.path, "_olive_dv")
        return live + (dir_bytes(dv) if os.path.isdir(dv) else 0)

    def user_bytes(self) -> int:
        return self.state.nbytes

    def probe_table(self) -> tuple:
        """(directory, rows, a 0.1% key-range predicate, its scan op)."""
        lo = self.ROWS // 2
        preds = [("o_orderkey", ">=", lo), ("o_orderkey", "<=", lo + self.ROWS // 1000)]
        return self.path, self.state, preds, "scan_after_mutate"


def orders_checksum_exprs():
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum("o_orderkey").alias("orderkey"),
        F.sum("o_totalcents").alias("cents"),
        F.sum("o_shippriority").alias("shippriority"),
        F.sum("o_seq").alias("seq"),
        F.sum(F.crc32(F.col("o_comment").cast("binary"))).alias("comment_crc"),
    ]


def orders_checksum(t: pa.Table) -> dict:
    import zlib

    comments = t.column("o_comment").to_pylist()
    return {
        "rows": t.num_rows,
        "orderkey": int(t.column("o_orderkey").to_numpy().sum()),
        "cents": int(t.column("o_totalcents").to_numpy().sum()),
        "shippriority": int(t.column("o_shippriority").to_numpy().sum()),
        "seq": int(t.column("o_seq").to_numpy().sum()),
        "comment_crc": sum(zlib.crc32(c.encode()) for c in comments),
    }


# the workloads by name: each one's parts, set up and run in this order
WORKLOADS = {
    "ingest_scan_curate": (BulkScan, LlmCuration),
    "table_mutations": (TableMutations,),
}
