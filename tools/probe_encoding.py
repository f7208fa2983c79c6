"""Probe the olive format's stored bytes and codec speed, per column.

    python3 tools/probe_encoding.py --tpch-lineitem PATH [--seed 1] [--reps 30]

Run from the root of a checkout.  No Spark.  Prints one JSON object per
line to standard output:

* ``bytes``, one per (table, column) and one ``"*total*"`` row per table:
  olive bytes (the compressed pages of the column's buffers, children
  included; the total is whole files, headers included) against the same
  rows written by ``pyarrow.parquet`` with zstd (the column chunks'
  compressed sizes; the total is whole files).  Tables:

  - ``tpch_lineitem``: the parquet file at ``--tpch-lineitem`` (TPC-H
    lineitem), written as one chunk with the default page size;
  - ``perf_lineitem``: ``perfbench.gen.lineitem(seed, 400_000)`` in
    10,000-row files, as the ``ingest_scan_curate`` workload writes it;
  - ``perf_orders``: ``perfbench.gen.orders(seed, 100_000)`` in
    5,000-row files, the size of the ``table_mutations`` base files.

* ``speed``, one per file shape: ``write_chunk`` and ``read_chunk``
  throughput (Arrow MB per second, CPU time of this process) and
  microseconds per call, the median of ``reps`` calls, on

  - ``lineitem_10k``: a 10,000-row ``perf_lineitem`` file (``--reps``);
  - ``decode_sample``: the first 20,000 rows of ``perf_lineitem`` as one
    chunk, the sample perfbench's ``format.decode_mb_s`` reads
    (``max(60, 2 × --reps)`` calls: perfbench times 3 by wall clock,
    too few to judge a decode change on a shared host);
  - ``corpus_20``: a 20-row ``perfbench.gen.corpus`` file, the corpus
    ingest's file size (``10 × --reps``).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from olive_spark.format import ChunkReader, read_chunk, write_chunk  # noqa: E402
from perfbench import gen  # noqa: E402


def _array_bytes(h) -> int:
    """Compressed page bytes of one array header, children included."""
    own = sum(p.compressed_size for b in h.buffers.values() for p in b.pages)
    return own + sum(_array_bytes(c) for c in h.children)


def _files(table: pa.Table, rows_per_file: int):
    return [table.slice(o, rows_per_file) for o in range(0, table.num_rows, rows_per_file)]


def bytes_rows(name: str, parts: list) -> list[dict]:
    cols = parts[0].schema.names
    olive = dict.fromkeys(cols, 0)
    parquet = dict.fromkeys(cols, 0)
    olive_total = parquet_total = 0
    for part in parts:
        blob = write_chunk({"data": part})
        olive_total += len(blob)
        th = ChunkReader(blob).header.tables[0]
        for c, h in zip(th.field_names, th.fields):
            olive[c] += _array_bytes(h)
        sink = io.BytesIO()
        pq.write_table(part, sink, compression="zstd")
        parquet_total += sink.tell()
        md = pq.ParquetFile(io.BytesIO(sink.getvalue())).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for j in range(rg.num_columns):
                parquet[rg.column(j).path_in_schema] += rg.column(j).total_compressed_size
    rows = [
        {"probe": "bytes", "table": name, "column": c, "olive_mb": olive[c] / 1e6,
         "parquet_zstd_mb": parquet[c] / 1e6, "ratio": olive[c] / max(parquet[c], 1)}
        for c in cols
    ]
    rows.append({"probe": "bytes", "table": name, "column": "*total*",
                 "files": len(parts), "olive_mb": olive_total / 1e6,
                 "parquet_zstd_mb": parquet_total / 1e6,
                 "ratio": olive_total / parquet_total})
    return rows


def _cpu_median(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.process_time()
        fn()
        times.append(time.process_time() - t)
    return statistics.median(times)


def speed_row(name: str, table: pa.Table, reps: int) -> dict:
    blob = write_chunk({"data": table})
    assert read_chunk(blob).equals(table), f"{name}: round trip differs"
    mb = table.nbytes / 1e6
    w = _cpu_median(lambda: write_chunk({"data": table}), reps)
    r = _cpu_median(lambda: read_chunk(blob), reps)
    return {"probe": "speed", "file": name, "rows": table.num_rows,
            "arrow_mb": mb, "olive_bytes": len(blob),
            "write_mb_s": mb / w, "write_us": w * 1e6,
            "read_mb_s": mb / r, "read_us": r * 1e6}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tpch-lineitem", required=True,
                    help="a TPC-H lineitem parquet file (sf0.1: 600k rows)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=30)
    args = ap.parse_args(argv)

    li = gen.lineitem(args.seed, 400_000).table
    rows = bytes_rows("tpch_lineitem", [pq.read_table(args.tpch_lineitem)])
    rows += bytes_rows("perf_lineitem", _files(li, 10_000))
    rows += bytes_rows("perf_orders", _files(gen.orders(args.seed, 100_000), 5_000))
    docs = gen.corpus(args.seed, 2_000, 20).docs
    rows.append(speed_row("lineitem_10k", li.slice(0, 10_000).combine_chunks(), args.reps))
    rows.append(speed_row("decode_sample", li.slice(0, 20_000).combine_chunks(),
                          max(60, 2 * args.reps)))
    rows.append(speed_row("corpus_20", docs.slice(0, 20).combine_chunks(), args.reps * 10))
    for r in rows:
        print(json.dumps({k: round(v, 4) if isinstance(v, float) else v
                          for k, v in r.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
