"""Layered benchmark of olive_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The benchmark generates its inputs from
the seed under ``.perfbench_work/`` in the checkout, sets up the
workload's tables through the program, runs the workload's fixed round of
operations in a closed loop (one client) until ``--seconds`` have passed,
finishing the round in progress, checks every answer, and prints one JSON
object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones;
``BENCHMARK.json`` lists both.  A human-readable report, including each
timing's highest percentile with at least ten samples beyond it, goes to
standard error.  See ``perfbench/README.md`` for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace as T  # noqa: E402

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"

CODECS = ("zstd", "lz4", "lz4_hc", "none")


class Run:
    """One benchmark process: the Spark session, the work directory, the
    tracer and the record of every measured operation."""

    def __init__(self, args, spark, work: str) -> None:
        self.seed = args.seed
        self.spark = spark
        self.work = work
        self.tracer = T.Tracer(enabled=bool(args.trace))
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.streams = T.stream_listener(spark)
        self.counters = T.SparkCounters(spark.sparkContext, self.streams)
        self.records: list = []
        self.loop_first_span = 0  # spans before it belong to set-up
        self.attempted = 0
        self.failed = 0
        self.refs: list = []  # (latency, CPU seconds) of each reference scan

    def op(self, name, layer, fn, check=None, extra=None):
        """Run one measured operation; a raised error or a failed check
        counts as a failed operation and the loop goes on."""
        self.attempted += 1
        self.tracer.new_trace()
        self.counters.start(name)
        cpu0 = tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer):
                result = fn()
            ok = True
        except Exception:  # noqa: BLE001 — an op failure is a measurement
            traceback.print_exc()
            ok, result = False, None
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s(self.jvm_pid) - cpu0
        counts = self.counters.finish(name)
        rec = {"name": name, "layer": layer, "s": elapsed, "cpu_s": cpu, **counts}
        if ok:
            try:
                ok = check is None or bool(check(result))
                if extra is not None:
                    rec.update(extra(result))
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: {name} failed its check", file=sys.stderr)
        rec["ok"] = ok
        self.records.append(rec)
        return result

    def planned(self, df):
        """In a traced run, plan ``df`` in a ``plan`` span first; the action
        that follows reuses the plan, so its span holds only execution."""
        if self.tracer.enabled:
            with self.tracer.span("executedPlan", "plan"):
                df._jdf.queryExecution().executedPlan()
        return df

    def setup_call(self, name, layer, fn):
        with self.tracer.span(name, layer):
            return fn()


def percentile_tail(values: list) -> "tuple[float, float, int] | None":
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, sample count); None under eleven samples."""
    n = len(values)
    if n < 11:
        return None
    v = sorted(values)
    idx = n - 11
    return 100.0 * (idx + 1) / n, v[idx], n


def figures(run: Run, wl) -> dict:
    """The run's whole-workload figures.  Each operation counts at the
    median of its kind, so one slow call among several of a kind does not
    move a figure.  CPU figures are scaled by REF_CPU_S ÷ the run's
    reference-scan CPU and set-up time by REF_WALL_S ÷ its latency: a
    shared host's speed drifts by a third within an hour, and the
    reference scan, which does not touch the program, drifts with it."""
    loop = [r for r in run.records if r["name"] in OP_METRIC]
    kinds = {r["name"] for r in loop}
    med = {op: statistics.median(r["s"] for r in loop if r["name"] == op) for op in kinds}
    k = REF_CPU_S / statistics.median(c for _, c in run.refs)
    cpu = {op: k * statistics.median(r["cpu_s"] for r in loop if r["name"] == op)
           for op in kinds}
    return {
        "setup_s": wl.setup_s() * REF_WALL_S / statistics.median(w for w, _ in run.refs),
        "ops_per_min": 60.0 * len(loop) / sum(med[r["name"]] for r in loop),
        "cpu_s_per_op": sum(cpu[r["name"]] for r in loop) / len(loop),
        **wl.e2e(med, cpu),
    }


# The reference scan: Spark's own parquet reader feeding an Arrow
# round trip through a Python worker, the same machinery an olive scan
# uses, over REF_ROWS generated lineitem rows.  REF_CPU_S and REF_WALL_S
# are its CPU seconds and latency on a 4-vCPU host at its faster times;
# they only fix the unit, so changing them rescales every run alike.
REF_ROWS = 200_000
REF_REPS = 6
REF_CPU_S = 1.0
REF_WALL_S = 0.5


def write_reference(run: Run) -> None:
    import pyarrow.parquet as pq

    from perfbench import gen

    run.ref_path = os.path.join(run.work, "reference")
    os.makedirs(run.ref_path)
    table = gen.lineitem(run.seed, REF_ROWS).table
    step = -(-REF_ROWS // CORES)  # the last part takes the remainder
    for i in range(CORES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(run.ref_path, f"part-{i}.parquet"))


def reference_scan(run: Run) -> "tuple[float, float]":
    """(latency, CPU seconds) of one reference scan."""
    from pyspark.sql import functions as F

    df = run.spark.read.parquet(run.ref_path)
    df = df.mapInArrow(lambda batches: batches, df.schema).agg(
        F.count(F.lit(1)), F.sum(F.crc32(F.col("l_comment").cast("binary"))))
    cpu0 = tree_cpu_s(run.jvm_pid)
    t0 = time.perf_counter()
    rows = df.collect()[0][0]
    wall = time.perf_counter() - t0
    if rows != REF_ROWS:
        raise RuntimeError(f"reference scan read {rows} rows, not {REF_ROWS}")
    return wall, tree_cpu_s(run.jvm_pid) - cpu0


# The bounded end-to-end metrics.  Wall-clock throughput (ops_per_min,
# scan_mb_s) swung up to 20-30% between runs of one seed set on a 4-vCPU
# host whose hypervisor steals ~10% of the CPU; CPU time without the JIT
# compiler threads (see tree_cpu_s) swings far less.  Wall-clock figures
# are reported per layer and on standard error.
E2E_UNITS = {
    "setup_s": "s", "cpu_s_per_op": "s", "scan_mb_per_cpu_s": "MB/s",
    "bytes_per_user_byte": "ratio",
}


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the Spark JVM and every
    process below it, less the JVM's JIT compiler threads; ended children
    count through their parent's cutime/cstime.  Time the hypervisor
    steals, or spent waiting for a CPU, is not charged."""
    tick = os.sysconf("SC_CLK_TCK")
    own = os.times()
    total = own.user + own.system
    for pid in [jvm_pid, *_descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended since listing: its parent's cutime has it
        total += sum(int(x) for x in fields[11:15]) / tick
    return total - jit_cpu_s(jvm_pid)


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used.  They compile
    in the background whatever ran before, so their time falls on
    whichever operation happens to be running; the session starts the JVM
    with a fixed set of compiler threads, which never end."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    task = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name, rest = stat.split("(", 1)[1].rsplit(")", 1)
        if "Compiler" in name:
            total += sum(int(x) for x in rest.split()[11:13])
    return total / tick


def format_probe(run: Run, wl) -> dict:
    """Time the format layer's public functions in this process on a
    sample of the workload's own rows and files."""
    import pyarrow as pa

    from olive_spark.datasource.olive_datasource import _list_chunk_files
    from olive_spark.format import compression, read_chunk, select_pages, write_chunk
    from olive_spark.format.header import read_header

    path, table, preds, _ = wl.probe_table()
    sample = table.slice(0, min(table.num_rows, 20_000))
    mb = sample.nbytes / 1e6
    tr = run.tracer
    out: dict = {}

    def median_time(fn, reps=3):
        """(median seconds of ``reps`` calls, the last call's result)"""
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            res = fn()
            times.append(time.perf_counter() - t)
        return statistics.median(times), res

    tr.new_trace()
    with tr.span("write_chunk", "format"):
        t, blob = median_time(lambda: write_chunk({"data": sample}))
    out["format.encode_mb_s"] = mb / t
    with tr.span("read_chunk", "format"):
        t, _ = median_time(lambda: read_chunk(blob))
    out["format.decode_mb_s"] = mb / t
    cols = sample.schema.names[:2]
    with tr.span("read_chunk_projected", "format"):
        t, got = median_time(lambda: read_chunk(blob, columns=cols))
    out["format.decode_proj_mb_s"] = got.nbytes / 1e6 / t
    sink = pa.BufferOutputStream()  # the sample's own bytes: a slice's
    with pa.ipc.new_stream(sink, sample.schema) as w:  # buffers span the table
        w.write_table(sample)
    raw = sink.getvalue().to_pybytes()
    for codec in CODECS:
        with tr.span(f"compress_{codec}", "format"):
            t, comp = median_time(lambda: compression.compress(codec, raw))
        with tr.span(f"decompress_{codec}", "format"):
            td, _ = median_time(lambda: compression.decompress(codec, comp, len(raw)))
        out[f"format.codec_mb_s.{codec}"] = 2 * len(raw) / 1e6 / (t + td)
        out[f"format.codec_ratio.{codec}"] = len(raw) / len(comp)
    kept = total = 0
    with tr.span("select_pages", "format"):
        for f in _list_chunk_files(path):
            header, _ = read_header(f)
            th = header.tables[0]
            pages = len(next(iter(th.fields[0].buffers.values())).pages)
            sel = select_pages(th, preds)
            total += pages
            kept += pages if sel is None else len(sel)
    out["format.pages_selected_ratio"] = kept / total
    return out


def datasource_probe(run: Run, wl) -> dict:
    """Plan and read the workload's table in this process through the data
    source's public classes, with the format layer's calls traced as
    children so the data source's self time excludes decoding."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan, LessThanOrEqual

    import olive_spark.format.reader as R
    from olive_spark.datasource import OliveDataSource

    path, _, preds, scan_op = wl.probe_table()
    tr = run.tracer
    orig_read, orig_select = R.ChunkReader.read_table, R.select_pages

    def read_table(self, *a, **kw):
        with tr.span("ChunkReader.read_table", "format"):
            return orig_read(self, *a, **kw)

    def select(*a, **kw):
        with tr.span("select_pages", "format"):
            return orig_select(*a, **kw)

    out: dict = {}
    R.ChunkReader.read_table, R.select_pages = read_table, select
    try:
        tr.new_trace()
        with tr.span("datasource_probe", "datasource"):
            t = time.perf_counter()
            ds = OliveDataSource({"path": path})
            reader = ds.reader(ds.schema())
            parts = reader.partitions()
            out["datasource.plan_s"] = time.perf_counter() - t
            out["datasource.partitions"] = len(parts)
            reads = []
            for p in parts:
                t = time.perf_counter()
                for _ in reader.read(p):
                    pass
                reads.append(time.perf_counter() - t)
            out["datasource.read_partition_s"] = statistics.median(reads)
            kinds = {">=": GreaterThanOrEqual, "<=": LessThanOrEqual, "<": LessThan}
            pds = OliveDataSource({"path": path, "pushdown": "true"})
            preader = pds.reader(pds.schema())
            list(preader.pushFilters([kinds[op]((c,), v) for c, op, v in preds]))
            kept = sum(len(p.files) for p in preader.partitions())
            files = sum(len(p.files) for p in parts)
            out["datasource.files_pruned_ratio"] = 1.0 - kept / files
    finally:
        R.ChunkReader.read_table, R.select_pages = orig_read, orig_select
    scans = [r["s"] for r in run.records if r["name"] == scan_op]
    in_process = out["datasource.plan_s"] + sum(reads) / CORES
    out["datasource.scan_overhead_s"] = statistics.median(scans) - in_process
    return out


# the layer each loop operation's public function belongs to, and the
# name its rate is reported under
OP_METRIC = {
    "scan_full": "datasource.scan_full", "scan_proj": "datasource.scan_proj",
    "scan_pruned": "datasource.scan_pruned", "append": "datasource.append",
    "scan_after_mutate": "datasource.scan_after_mutate",
    "scan_corpus": "datasource.scan_corpus",
    "delete_where": "maintenance.delete_where", "update_where": "maintenance.update_where",
    "merge_small": "maintenance.merge_small", "compact": "maintenance.compact",
    "cdc_drain": "streaming.drain",
    "exact_dedup": "dedup.exact_dedup", "minhash_lsh_pairs": "dedup.minhash_lsh_pairs",
    "incremental_dedup": "dedup.incremental_dedup",
    "cosine_topk_arrow": "similarity.cosine_topk_arrow",
}


def per_layer(run: Run, wl) -> dict:
    out = {name: 0.0 for name, _ in PER_LAYER}
    loop = [r for r in run.records if r["name"] in OP_METRIC]
    by_op: dict = {}
    for r in loop:
        by_op.setdefault(r["name"], []).append(r)

    def med(op, key):
        return statistics.median(r[key] for r in by_op[op])

    for op in by_op:
        for k in ("jobs", "stages", "tasks"):
            out[f"plan.{k}.{op}"] = med(op, k)
        out[f"{OP_METRIC[op]}_per_min"] = 60.0 / med(op, "s")
    out["plan.failed_tasks"] = sum(r["failed_tasks"] for r in loop)
    verbs = [r for r in loop if r["layer"] == "maintenance"]
    out["maintenance.files_rewritten"] = sum(r.get("files_rewritten", 0) for r in verbs)
    out["maintenance.dvs_written"] = sum(r.get("files_dv", 0) for r in verbs)
    changed = sum(r.get("changed_bytes", 0) for r in verbs)
    if changed:
        out["maintenance.write_amp"] = sum(r.get("written_bytes", 0) for r in verbs) / changed
    if "cdc_drain" in by_op:
        out["streaming.lifecycles_per_drain"] = med("cdc_drain", "lifecycles")
        out["streaming.batches_per_drain"] = med("cdc_drain", "batches")
    if "minhash_lsh_pairs" in by_op:
        out["dedup.candidate_precision"] = med("minhash_lsh_pairs", "candidate_precision")
    fig = figures(run, wl)
    for k in ("cpu_s_per_op", "ops_per_min", "scan_mb_s"):
        out[f"trace.{k}"] = fig[k]
    out.update(format_probe(run, wl))
    out.update(datasource_probe(run, wl))
    self_time = run.tracer.self_time(since=run.loop_first_span)
    traced = sum(self_time.values())
    for layer in T.LAYERS:
        out[f"{layer}.self_share"] = self_time[layer] / traced
    out["trace.traced_s"] = traced
    out["trace.spans"] = len(run.tracer.spans)
    return out


def _per_layer_names():
    return [
        ("format.encode_mb_s", "MB/s"), ("format.decode_mb_s", "MB/s"),
        ("format.decode_proj_mb_s", "MB/s"),
        *[(f"format.codec_mb_s.{c}", "MB/s") for c in CODECS],
        *[(f"format.codec_ratio.{c}", "ratio") for c in CODECS],
        ("format.pages_selected_ratio", "ratio"),
        ("datasource.plan_s", "s"), ("datasource.partitions", "count"),
        ("datasource.files_pruned_ratio", "ratio"), ("datasource.read_partition_s", "s"),
        ("datasource.scan_overhead_s", "s"),
        *[(f"{m}_per_min", "1/min") for m in OP_METRIC.values()],
        *[(f"plan.{k}.{op}", "count") for op in OP_METRIC for k in ("jobs", "stages", "tasks")],
        ("plan.failed_tasks", "count"),
        ("maintenance.files_rewritten", "count"), ("maintenance.dvs_written", "count"),
        ("maintenance.write_amp", "ratio"),
        ("streaming.lifecycles_per_drain", "count"), ("streaming.batches_per_drain", "count"),
        ("dedup.candidate_precision", "ratio"),
        *[(f"{layer}.self_share", "ratio") for layer in T.LAYERS],
        ("trace.cpu_s_per_op", "s"), ("trace.ops_per_min", "1/min"),
        ("trace.scan_mb_s", "MB/s"),
        ("trace.traced_s", "s"), ("trace.spans", "count"),
    ]


PER_LAYER = _per_layer_names()
PER_LAYER_UNITS = dict(PER_LAYER)


def report(run: Run, wl, metrics: dict) -> None:
    """Human-readable summary on standard error."""
    err = sys.stderr
    print(f"perfbench {wl.name}: seed {run.seed}, local[{CORES}], "
          f"{run.attempted} ops, {run.failed} failed", file=err)
    by_op: dict = {}
    for r in run.records:
        by_op.setdefault(r["name"], []).append(r)
    for op, recs in by_op.items():
        vals = [r["s"] for r in recs]
        tail = percentile_tail(vals)
        tail_s = (f", p{tail[0]:.0f} {tail[1]:.3f} s" if tail
                  else ", tail: fewer than 11 samples")
        cpu = [r["cpu_s"] for r in recs]
        print(f"  {op}: n={len(vals)} p50 {statistics.median(vals):.3f} s{tail_s}, "
              f"cpu p50 {statistics.median(cpu):.2f} s "
              f"({' '.join(f'{c:.2f}' for c in cpu)})", file=err)
    print(f"  JIT compiler threads (not charged to operations): "
          f"{jit_cpu_s(run.jvm_pid):.1f} cpu s", file=err)
    print("  reference scans: " + ", ".join(f"{w:.2f} s / {c:.2f} cpu s" for w, c in run.refs),
          file=err)
    for nbytes, times in wl.ingests:
        print(f"  set-up ingest: {nbytes / 1e6:.1f} MB parts in "
              + ", ".join(f"{t:.2f}" for t in times) + " s", file=err)
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g}", file=err)


def _descendants(pid: int) -> list:
    """Process ids below ``pid``, from /proc (Linux)."""
    kids: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every worker below it, and wait
    for all of them to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers inherit this environment through the JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                f" -XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.session.timeZone", "UTC")
        # one generated source file = one input partition = one olive file
        .config("spark.sql.files.openCostInBytes", str(128 << 20))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
        .getOrCreate()
    )
    from olive_spark import register_olive

    register_olive(spark)
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from perfbench.workloads import WORKLOADS, Workload

    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    import olive_spark  # noqa: F401 — fail before starting Spark if the program is missing

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    phases = {"start": time.perf_counter()}
    try:
        spark = start_spark(work)
        phases["spark"] = time.perf_counter()
        run = Run(args, spark, work)
        wl = Workload(run, args.workload, WORKLOADS[args.workload])
        wl.setup()
        write_reference(run)
        reference_scan(run)  # untimed: starts the reference's code path
        run.refs += [reference_scan(run) for _ in range(REF_REPS)]
        phases["setup"] = t0 = time.perf_counter()
        run.loop_first_span = len(run.tracer.spans)
        while time.perf_counter() - t0 < args.seconds:
            wl.round()
        phases["loop"] = time.perf_counter()
        final_ok = wl.final_check()
        if final_ok is not None:
            run.attempted += 1
            if not final_ok:
                run.failed += 1
                print("perfbench: final state check failed", file=sys.stderr)
        if args.trace:
            shown = metrics = per_layer(run, wl)
            run.tracer.dump(os.path.join(
                os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
            units = PER_LAYER_UNITS
        else:
            shown = figures(run, wl)
            metrics = {k: shown[k] for k in E2E_UNITS}
            units = E2E_UNITS
        phases["report"] = time.perf_counter()
        report(run, wl, shown)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.perf_counter()
    marks = list(phases.items())
    print("  phases: " + ", ".join(
        f"{b[0]} {b[1] - a[1]:.1f} s" for a, b in zip(marks, marks[1:])), file=sys.stderr)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
