"""Probe the fixed cost of one scan partition and sweep the scan floor.

    python3 tools/probe_scan_floor.py [--reps 5] [--seed 1]

Run from the root of a checkout; it starts Spark the way ``perfbench``
does (``local[min(4, nproc)]``) under ``.perfbench_work/``, which it
deletes at the end.  Prints one JSON object per measurement to standard
output:

* ``round_trip``: a warm full-width scan of a 12-file, 2,400-row olive
  table with ``scanParallelism`` 1 and 12; the CPU difference over 11
  is the cost of one extra Python-worker round trip.
* ``floor``: full-width scans into the ``noop`` sink of generated
  lineitem tables of about 4, 6, 8, 12 and 16 MiB (0.5 MiB files), each
  packed the way a derived scan width with a ``MIN_PARTITION_BYTES``
  floor of 1, 2 or 4 MiB would pack it.  The planner runs in a Python
  worker, so the floor is applied here by computing that packing's
  partition count and passing it as ``scanParallelism``.

CPU is the driver, the JVM and every Python worker, less the JIT
compiler threads (``perfbench.run.tree_cpu_s``); every figure is the
median over ``--reps`` runs, with the floors alternated within a rep.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import CORES, start_spark, stop_spark, tree_cpu_s  # noqa: E402
from perfbench.workloads import format_write_files  # noqa: E402

MIB = 1 << 20
FLOORS_MIB = (1, 2, 4)
SIZES_MIB = (4, 6, 8, 12, 16)
FILE_BYTES = MIB // 2


def _scan(spark, jvm_pid, path, width):
    df = spark.read.format("olive").option("scanParallelism", str(width)).load(path)
    cpu0 = tree_cpu_s(jvm_pid)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, tree_cpu_s(jvm_pid) - cpu0


def _files(path):
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".olive"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    from olive_spark.datasource.olive_datasource import _pack_files
    from olive_spark.format import write_chunk

    work = os.path.join(ROOT, ".perfbench_work", f"scan-floor-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid

        tiny = os.path.join(work, "tiny")
        format_write_files(gen.lineitem(args.seed, 2_400).table, tiny, 200)
        cpu: dict = {1: [], 12: []}
        for rep in range(args.reps + 1):  # the first rep warms up
            for width in cpu:
                c = _scan(spark, jvm_pid, tiny, width)[1]
                if rep:
                    cpu[width].append(c)
        med = {w: statistics.median(v) for w, v in cpu.items()}
        print(json.dumps({
            "probe": "round_trip", "cores": CORES,
            "cpu_s_1": round(med[1], 3), "cpu_s_12": round(med[12], 3),
            "cpu_s_per_round_trip": round((med[12] - med[1]) / 11, 3),
        }), flush=True)

        li = gen.lineitem(args.seed, 400_000).table
        bytes_per_row = len(write_chunk({"data": li.slice(0, 20_000)})) / 20_000
        rows_per_file = int(FILE_BYTES / bytes_per_row)
        for size in SIZES_MIB:
            path = os.path.join(work, f"li-{size}")
            format_write_files(li.slice(0, int(size * MIB / bytes_per_row)), path, rows_per_file)
            files = _files(path)
            widths = {f: len(_pack_files(files, 128 * MIB, 128 << 10, CORES, f * MIB))
                      for f in FLOORS_MIB}
            # an explicit width packs with no floor; it must give the same count
            for w in widths.values():
                assert len(_pack_files(files, 128 * MIB, 128 << 10, w)) == w, (size, w)
            runs: dict = {f: [] for f in FLOORS_MIB}
            for rep in range(args.reps + 1):
                for f in FLOORS_MIB:
                    r = _scan(spark, jvm_pid, path, widths[f])
                    if rep:
                        runs[f].append(r)
            on_disk = sum(os.path.getsize(p) for p in files)
            for f in FLOORS_MIB:
                print(json.dumps({
                    "probe": "floor", "cores": CORES, "table_mib": round(on_disk / MIB, 1),
                    "files": len(files), "floor_mib": f, "partitions": widths[f],
                    "wall_s": round(statistics.median(w for w, _ in runs[f]), 3),
                    "cpu_s": round(statistics.median(c for _, c in runs[f]), 3),
                }), flush=True)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
