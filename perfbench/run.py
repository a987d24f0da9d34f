"""The repository's benchmark: one workload, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 15 --trace 0

A run sets up cold: from process start it imports the package, launches
the JVM, starts the engine's SparkSession, ships the package and runs
one warm-up pass of the workload; that is ``setup_s``.  It then
runs whole passes of the workload's operations for about ``--seconds``:
the window over the mean pass, rounded, and at least three passes.  The seed
fixes the operation order of every pass.  Each operation's first result
in the run is digested; once Spark has stopped, each digest is compared
with the digest of the operation's DuckDB oracle.  An exception or a
mismatch counts as a failed operation, and the command then exits 1.

With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
it wraps the package's layers in spans on every measured pass, reads Spark's
status store and ``/proc`` after every operation, and reports the
per-layer metrics of ``workloads.PER_LAYER``.  The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "hadoop_20_warehouse_spark"
WORK = os.path.join(ROOT, ".perfbench")
# Two cores of a 4-core host, and a JVM sized to them.  The operations
# are short and mostly one task a stage.  Under bursts of CPU load from
# other processes, six interleaved runs of each gave a release pass_s
# spread (quartile distance over median) of 0.40 with local[4] and a JVM
# sized to all cores, and 0.21 with local[2], which was also no slower.
CPUS = 2
DRIVER_MEMORY = "2g"
# Passes a run measures at least, so each operation's median has a middle.
MIN_PASSES = 3

sys.path.insert(0, ROOT)

from perfbench.collect import ProcTree, RssSampler, spark_jobs  # noqa: E402
from perfbench.report import OpRun, end_to_end, per_layer, tail_latency  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    END_TO_END,
    LAYER_MODULES,
    MEASURE_DATA,
    PER_LAYER,
    SMALL_DATA,
    WORKLOADS,
    pass_order,
)


def _process_start_perf() -> float:
    """This process's start time on the ``time.perf_counter`` clock."""
    with open("/proc/self/stat") as fh:
        line = fh.read()
    start_ticks = int(line[line.rindex(")") + 2 :].split()[19])
    now = time.perf_counter()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return now - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _set_environment() -> dict[str, str]:
    """Keep every file the run writes inside the checkout; return the
    Spark conf that does the same for the JVM."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_SCRATCH=os.path.join(WORK, "scratch"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
    )
    os.chdir(WORK)
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -XX:ActiveProcessorCount={CPUS}",
        "spark.ui.showConsoleProgress": "false",
    }


def _hash_frame():
    """The order-insensitive result digest of ``tests/drive_contract.py``."""
    path = os.path.join(ROOT, "tests", "drive_contract.py")
    spec = importlib.util.spec_from_file_location("drive_contract", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module._hash_frame


def _oracle_digests(data_of: dict[str, str], hash_frame) -> dict[str, str]:
    """Digest of each operation's DuckDB oracle over that operation's tables."""
    import duckdb

    from hadoop_20_warehouse_spark.catalog import TABLE_NAMES
    from hadoop_20_warehouse_spark.registry import ORACLES

    out = {}
    for data_dir in set(data_of.values()):
        con = duckdb.connect()
        try:
            for table in TABLE_NAMES:
                path = os.path.join(data_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            for op, op_dir in data_of.items():
                if op_dir == data_dir:
                    out[op] = hash_frame(con.execute(ORACLES[op]).df())
        finally:
            con.close()
    return out


def _start_session(conf: dict[str, str]):
    from hadoop_20_warehouse_spark import ship
    from hadoop_20_warehouse_spark.session import get_session

    spark = get_session(master=f"local[{CPUS}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ship.ensure_shipped(spark)
    return spark


def _run_op(spark, tracer: Tracer, op: str, data_dir: str, group: str):
    """Run one operation; return (result frame or None, error, start, wall)."""
    from hadoop_20_warehouse_spark.registry import QUERIES

    spark.sparkContext.setJobGroup(group, op)
    tracer.op = group
    start = time.perf_counter()
    try:
        df = tracer.span("inventory", op, QUERIES[op], spark, data_dir)
        pdf = tracer.span("action", "toPandas", df.toPandas)
        error = None
    except Exception as exc:  # an operation failure is counted, not fatal
        pdf, error = None, f"{type(exc).__name__}: {exc}"
    return pdf, error, start, time.perf_counter() - start


def _stop(spark, tree: ProcTree) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for them."""
    pids = tree.descendants()
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=30)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if pids:
            time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    proc_start = _process_start_perf()
    workload = WORKLOADS[args.workload]
    data_of = {
        op: SMALL_DATA if op in workload.small_ops else MEASURE_DATA for op in workload.ops
    }
    conf = _set_environment()
    tracer = Tracer()
    if args.trace:
        print(f"trace: {tracer.install(LAYER_MODULES)} layer functions wrapped")
    import hadoop_20_warehouse_spark.inventory  # noqa: F401  registers QUERIES

    hash_frame = _hash_frame()
    spark = _start_session(conf)
    tree = ProcTree()
    rss = RssSampler(tree)
    try:
        # One warm-up pass compiles and caches each operation's code.
        # dedup_minhash_lsh's persisted band frame (session.persist_generation,
        # two generations kept) is still cached on its second call, the first
        # measured one, which runs fewer jobs; the medians over at least
        # MIN_PASSES passes leave that call out.
        for op in workload.ops:
            _, error, _, wall = _run_op(spark, tracer, op, data_of[op], "warmup")
            print(f"warmup {op}: {wall:.3f} s" + (f" FAILED {error}" if error else ""))
        setup_s = time.perf_counter() - proc_start
        print(f"setup: {setup_s:.3f} s")
        span_cost_s = tracer.span_cost() if args.trace else 0.0

        rng = random.Random(args.seed)
        runs: list[OpRun] = []
        digests: dict[str, str] = {}
        rss.start()
        t_start = time.perf_counter()
        # Whole passes only, so every operation has the same number of
        # samples whatever the seed: the number of passes is the window
        # over the mean pass so far, rounded to the nearest whole pass.
        pass_no = 0
        while pass_no < MIN_PASSES or (
            (time.perf_counter() - t_start) * (pass_no + 0.5) / pass_no < args.seconds
        ):
            for op in pass_order(workload.ops, rng):
                group = f"p{pass_no}:{op}"
                if args.trace:
                    cpu0, py0, w0 = tree.usage()
                tracer.enabled = bool(args.trace)
                pdf, error, start, wall = _run_op(spark, tracer, op, data_of[op], group)
                tracer.enabled = False
                run = OpRun(op, pass_no, wall, start + tracer.wall_offset, error)
                if args.trace:
                    cpu1, py1, w1 = tree.usage()
                    run.cpu_s, run.pyworker_cpu_s = cpu1 - cpu0, py1 - py0
                    run.write_bytes = w1 - w0
                    run.spark = spark_jobs(spark, group)
                if error is None and op not in digests:
                    digests[op] = hash_frame(pdf)
                print(f"pass {pass_no} {op}: {wall:.3f} s" + (f" FAILED {error}" if error else ""))
                runs.append(run)
            pass_no += 1
        measured_s = time.perf_counter() - t_start
    finally:
        peak_rss_mb = rss.stop()
        _stop(spark, tree)

    oracle = _oracle_digests(data_of, hash_frame)
    for op, digest in digests.items():
        if digest != oracle[op]:
            first = next(r for r in runs if r.op == op)
            first.error = "result digest differs from the DuckDB oracle"
            print(f"{op}: FAILED {first.error}")
    failed = sum(r.error is not None for r in runs)

    for op in workload.ops:
        walls = [r.wall_s for r in runs if r.op == op]
        print(f"op {op}: median {statistics.median(walls):.3f} s of {len(walls)}")
    print(f"measured {len(runs)} operations in {measured_s:.1f} s")

    if args.trace:
        metrics, jobs_by_span = per_layer(
            runs, tracer.spans, tracer.wall_offset, peak_rss_mb, span_cost_s
        )
        path = os.path.join(WORK, f"spans-{workload.name}-seed{args.seed}.jsonl")
        tracer.dump(path, jobs_by_span)
        print(f"spans: {len(tracer.spans)} written to {path}; "
              f"one traced call costs {span_cost_s * 1e6:.2f} us")
        units = {name: unit for name, unit, _b, _m in PER_LAYER}
    else:
        metrics = end_to_end(setup_s, runs)
        units = {name: unit for name, unit, _b in END_TO_END}
        walls = [r.wall_s for r in runs]
        # Printed but not in the result object: the p50 of all operation
        # latencies falls on whichever operation is in the middle of the
        # mix, so it follows that one operation's noise (across ten release
        # runs it spread 0.26 of its median, pass_s 0.14); a run has fewer
        # than the 100 samples a p90 needs; the error rate of a good run is
        # 0 (the result object carries it as failed / attempted); and the
        # peak RSS, dominated by how far the JVM grew its heap, spread 19%
        # across seeds of the warehouse workload.
        print(f"op_p50_s: {statistics.median(walls):.4f} s ({len(walls)} samples)")
        p90 = tail_latency(walls)
        print(
            "op_p90_s: "
            + (f"{p90:.4f} s" if p90 is not None else "not reported")
            + f" ({len(walls)} samples; reported from 100)"
        )
        print(f"op_error_rate: {failed / len(runs):.4f} ({failed} of {len(runs)})")
        print(f"peak_rss_mb: {peak_rss_mb:.1f} MB (driver, JVM and Python workers)")
    for name, value in metrics.items():
        print(f"{name}: {value:.4f} {units[name]}")
    result = {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
