"""Benchmark entry point.

    python3 perfbench/run.py --workload {olap,llm_ops,ingest} --seed N \
        --seconds S --trace {0,1} [--scale {bench,smoke}]

Run from the root of a checkout.  One run is one fresh process on
``local[<cpus available>]``: it generates the workload's inputs from the
seed under ``.perfbench/run-<pid>/`` (Spark's local and warehouse dirs
and the JVM's temp dir go there too), starts a session, warms up,
measures passes for ``--seconds``, reads memory use, checks every
output, stops the JVM, removes the run directory and prints one line per
metric and, last, one JSON object.  A run in which no operation
succeeded prints its failures and exits with code 1.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics and writes the spans to ``.perfbench/traces/``.  See README.md
in this directory.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import inputs

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PACKAGE = "end_to_end_data_engineering_project_with_databricks_spark"
WORKLOADS = ("olap", "llm_ops", "ingest")

#: End-to-end metrics: name -> unit.
E2E_METRICS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_latency_s": "s",
    "slowest_op_s": "s",
    "retained_mb": "MB",
    "ok_ratio": "ratio",
}

#: Cap on the driver heap.  The package default (12g) is sized for a
#: dedicated host; the heap still grows only as far as the program needs.
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(inputs.SIZES), default="bench")
    return ap.parse_args(argv)


def start_session(tmp: str, cpus: int):
    """The package's session on ``local[cpus]``, with every directory it
    writes placed under ``tmp``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    from end_to_end_data_engineering_project_with_databricks_spark.session import (
        get_spark,
        pin_session_conf,
    )

    jvm_tmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jvm_tmp, exist_ok=True)
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={jvm_tmp}"
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return pin_session_conf(spark)


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _status_mb(pid: int, key: str) -> float:
    """A memory line (``VmHWM``, ``VmRSS``) of ``/proc/<pid>/status``, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            kids = []
        out += kids
        todo += kids
    return out


def memory_mb(spark) -> tuple[float, float]:
    """(retained, peak) memory of the driver Python, the JVM and the
    JVM's children (Python workers), in MB.

    Retained is the JVM's heap in use after a full collection plus its
    non-heap in use (metaspace, code cache), plus the resident set of the
    Python processes.  Peak is the summed peak RSS (``VmHWM``) of all of
    them; it is printed but not a gated metric, because the JVM sizes its
    heap adaptively and the figure spread 0.18-0.2 (interquartile range
    over median) across seeds of one commit.  Call after the timed
    passes: the full collection runs here."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    pythons = [os.getpid(), *_descendants(jvm_pid)]
    peak = retained = 0.0
    for pid in [jvm_pid, *pythons]:
        try:
            peak += _status_mb(pid, "VmHWM")
            if pid != jvm_pid:
                retained += _status_mb(pid, "VmRSS")
        except OSError:
            pass  # exited since it was listed
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return retained + used / 2**20, peak


def measure(args: argparse.Namespace, tmp: str) -> tuple[dict, dict, "workloads.Run"]:
    sf_dir = os.path.join(tmp, "tables")
    if args.workload != "ingest":
        # in a process of its own, so the driver's memory figures leave it out
        subprocess.run(
            [sys.executable, os.path.join(BENCH, "inputs.py"), sf_dir,
             str(args.seed), args.scale],
            check=True,
        )
    # the program's set-up starts here: imports, session, registry, warm-up
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import workloads
    from spans import Tracer

    t_session = time.perf_counter()
    spark = start_session(tmp, len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t_session
    try:
        run = workloads.Run(
            spark=spark, tracer=Tracer(spark, False), seed=args.seed,
            seconds=args.seconds, scale=args.scale, trace=bool(args.trace),
            tmp=tmp, sf_dir=sf_dir,
        )
        if args.workload == "ingest":
            workloads.run_ingest(run)
        else:
            names = workloads.OLAP_QUERIES if args.workload == "olap" else workloads.LLM_QUERIES
            workloads.run_queries(run, names)
        retained_mb, run.peak_rss_mb = memory_mb(spark)
        run.run_checks()
    finally:
        stop_session(spark)

    if not run.op_s:
        return {}, {}, run  # no operation succeeded: nothing to report
    e2e = {
        "setup_s": run.setup_end - t_setup - run.setup_excluded_s,
        "pass_s": statistics.median(run.pass_s),
        # each kind's median, so the figure does not jump between kinds
        "op_latency_s": math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in run.op_s.values()
        )),
        "slowest_op_s": statistics.median(run.slowest_op_s),
        "retained_mb": retained_mb,
        "ok_ratio": 1 - len(run.failures) / run.attempted,
    }
    layers = {}
    if run.trace:
        layers = {
            k: statistics.median(row[k] for row in run.layer_rows)
            for k in workloads.LAYER_METRICS
        }
        layers["session.start_s"] = session_s
        layers["bench.trace_overhead_s"] = (
            statistics.median(run.traced_pass_s) - e2e["pass_s"]
        )
    return e2e, layers, run


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle.py")
    ):
        print(f"{ROOT} holds no {PACKAGE} package and tests/oracle.py", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp  # Python-side temp files (pyspark, workers)
    try:
        e2e, layers, run = measure(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if run.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        run.tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))

    import workloads

    units = {**E2E_METRICS, **workloads.LAYER_METRICS}
    warm = " ".join(f"{t:.3f}" for t in run.warm_pass_s)
    passes = " ".join(f"{t:.3f}" for t in run.pass_s)
    n_ops = sum(map(len, run.op_s.values()))
    print(f"# {args.workload} seed={args.seed} scale={args.scale}: "
          f"{n_ops} untraced ops; warm-up passes {warm}; untraced passes {passes}")
    print(f"failed_ratio {len(run.failures) / max(run.attempted, 1):.6g} ratio")
    for f in run.failures:
        print(f"failed: {f}")
    if not e2e:
        print("no operation succeeded", file=sys.stderr)
        return 1
    for name, value in {**e2e, **layers}.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"peak_rss_mb {run.peak_rss_mb:.6g} MB")
    reported = layers if run.trace else e2e
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
