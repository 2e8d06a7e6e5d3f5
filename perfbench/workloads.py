"""The three benchmark workloads, driven through the program's public
functions.

``olap`` and ``llm_ops`` run registered queries as passes in a seeded
order; one query is DataFrame build plus a ``noop``-sink action.
``ingest`` runs the reference pipeline (land, transform, idempotent
append, read back) into a fresh versioned table per pass, with a merge
and compaction every few batches.  Each workload warms up with
``WARM_PASSES`` untimed passes, then runs timed passes until ``seconds``
of pass time have accumulated.  Output checks are queued during the
first timed pass and run after the last one, outside the timed region
and after memory use has been read.

In a traced run passes alternate traced and untraced: per-layer numbers
come from the traced passes, and the tracing overhead is the traced
minus the untraced median pass time.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import functions as F

import inputs
from spans import Span, Tracer, patch_module_attr, self_times, subtree

PACKAGE = "end_to_end_data_engineering_project_with_databricks_spark"

OLAP_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "q10_returned_items",
    "events_tumbling_counts",
    "events_sessionize",
)
LLM_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_containment_ensemble",
    "sim_knn_graph",
)

#: Untimed passes before measuring: the first pass pays class loading,
#: code generation and the first Python-worker start (2-3x a warm pass);
#: later passes keep getting faster while the JIT compiles the hot paths
#: (olap ~6 s on the third pass, ~5 s on the fifth, sf0.01 on 4 cores).
#: Three is as many as the run budget allows; see README.md.
WARM_PASSES = 3

#: Per-layer metrics: name -> unit.  Times and counts are per pass
#: (median over traced passes); zero where a workload bypasses a layer.
LAYER_METRICS = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "sources.readers.load_table_s": "s",
    "sources.readers.load_table_calls": "count",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "pipeline.video_etl.load_raw_s": "s",
    "pipeline.video_etl.transform_s": "s",
    "sources.versioned.idempotent_append_s": "s",
    "sources.versioned.new_row_ratio": "ratio",
    "sources.versioned.read_s": "s",
    "sources.versioned.merge_upsert_s": "s",
    "sources.versioned.compact_s": "s",
    "sources.versioned.live_files": "count",
    "sources.versioned.live_bytes_per_row": "B/row",
    "sources.versioned.written_bytes_per_row": "B/row",
    "bench.uncovered_s": "s",
    "bench.trace_overhead_s": "s",
}

#: Span names whose summed duration is reported as the layer's time.
_SPAN_TIMES = {
    "sources.readers.load_table": "sources.readers.load_table_s",
    "catalyst.plan": "catalyst.plan_s",
    "exec.action": "exec.action_s",
    "pipeline.video_etl.load_raw": "pipeline.video_etl.load_raw_s",
    "pipeline.video_etl.transform": "pipeline.video_etl.transform_s",
    "sources.versioned.idempotent_append": "sources.versioned.idempotent_append_s",
    "sources.versioned.read": "sources.versioned.read_s",
    "sources.versioned.merge_upsert": "sources.versioned.merge_upsert_s",
    "sources.versioned.compact": "sources.versioned.compact_s",
}
#: Spans of one user-visible operation; their self time is the part no
#: layer span covers.
_OP_SPANS = ("query", "batch", "maint")


@dataclass
class Run:
    """State of one benchmark run, shared by the workload drivers."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    scale: str
    trace: bool
    tmp: str  # per-run state; removed when the run ends
    sf_dir: str  # generated fixture tables
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)  # untraced passes
    traced_pass_s: list[float] = field(default_factory=list)
    warm_pass_s: list[float] = field(default_factory=list)  # with input making
    #: untraced operation latencies by kind (query name, or ingest "append")
    op_s: dict[str, list[float]] = field(default_factory=dict)
    slowest_op_s: list[float] = field(default_factory=list)  # per untraced pass
    layer_rows: list[dict[str, float]] = field(default_factory=list)
    setup_end: float = 0.0
    peak_rss_mb: float = 0.0
    #: time inside the set-up window spent making inputs, not in the program
    setup_excluded_s: float = 0.0
    #: output checks, run by :meth:`run_checks` after the timed passes
    checks: list = field(default_factory=list)

    def fail(self, what: str, detail: str) -> None:
        self.failures.append(f"{what}: {detail}")
        print(f"FAILED {what}: {detail}", file=sys.stderr)

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failure and
        returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # any failure of the program is a result
            traceback.print_exc(file=sys.stderr)
            self.fail(what, f"{type(e).__name__}: {e}")
            return None

    def run_checks(self) -> None:
        """Run the queued output checks; an exception in a check counts
        as a failure of the operation it checks."""
        for what, check in self.checks:
            try:
                check()
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                self.fail(what, f"{type(e).__name__}: {e}")
        self.checks.clear()

    def timed_passes(self, run_pass) -> None:
        """Warm up with ``WARM_PASSES`` untimed passes, then run passes
        until ``seconds`` of pass time accumulate.  Traced runs alternate
        untraced and traced passes and end on an untraced one, so a
        drift over the run cancels out of the tracing overhead."""
        for p in range(WARM_PASSES):
            t0 = time.perf_counter()
            run_pass(p, traced=False, timed=False)
            self.warm_pass_s.append(time.perf_counter() - t0)
        self.setup_end = time.perf_counter()
        p = WARM_PASSES
        while (
            sum(self.pass_s) + sum(self.traced_pass_s) < self.seconds
            or len(self.pass_s) <= len(self.traced_pass_s)
            or (self.trace and not self.traced_pass_s)
        ):
            run_pass(p, traced=self.trace and (p - WARM_PASSES) % 2 == 1, timed=True)
            p += 1

    def record_pass(
        self, dt: float, ops: list[tuple[str, float]], root: Span | None
    ) -> None:
        if root is None:
            self.pass_s.append(dt)
            for kind, t in ops:
                self.op_s.setdefault(kind, []).append(t)
            if ops:
                self.slowest_op_s.append(max(t for _, t in ops))
            return
        self.traced_pass_s.append(dt)
        spans = subtree(self.tracer.spans, root)
        self.tracer.read_counters(spans)
        self.layer_rows.append(layer_row(spans))


def layer_row(spans: list[Span]) -> dict[str, float]:
    """Per-layer totals over one traced pass."""
    row = dict.fromkeys(LAYER_METRICS, 0.0)
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    for sp in spans:
        metric = _SPAN_TIMES.get(sp.name)
        if metric:
            row[metric] += sp.duration
        if sp.name == "sources.readers.load_table":
            row["sources.readers.load_table_calls"] += 1
        if sp.name == "queries.build":
            row["queries.build_s"] += selfs[sp.id]
        if sp.name in _OP_SPANS:
            row["bench.uncovered_s"] += selfs[sp.id]
        in_build = sp.name == "queries.build" or (
            sp.parent is not None and by_id[sp.parent].name == "queries.build"
        )
        if in_build:
            row["queries.build_jobs"] += sp.counters.get("jobs", 0)
        for k, v in sp.counters.items():
            row[f"exec.{k}"] += v
    return row


# ---- query workloads ------------------------------------------------------


def _query_once(run: Run, spec) -> tuple[float, object]:
    """Build ``spec``'s DataFrame and run it into the ``noop`` sink;
    returns (latency, DataFrame).  Traced runs also plan the built
    DataFrame on its own so Catalyst's share is visible."""
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("query"):
        with tr.span("queries.build"):
            df = spec.fn(run.spark, run.sf_dir)
        if tr.enabled:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec.action"):
            df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0, df


def run_queries(run: Run, names: tuple[str, ...]) -> None:
    from end_to_end_data_engineering_project_with_databricks_spark.queries.registry import (
        all_specs,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources import readers

    specs = all_specs()
    rng = random.Random(run.seed)
    if run.trace:
        traced_load = run.tracer.wrap("sources.readers.load_table", readers.load_table)
        patch_module_attr(PACKAGE, "load_table", readers.load_table, traced_load)
    checked = False

    def run_pass(p: int, traced: bool, timed: bool) -> None:
        nonlocal checked
        run.tracer.enabled = traced
        order = list(names) if not timed else rng.sample(names, len(names))
        ops: list[tuple[str, float]] = []
        frames = {}
        t0 = time.perf_counter()
        with run.tracer.span("pass"):
            for name in order:
                out = run.attempt(f"{name} pass {p}", lambda: _query_once(run, specs[name]))
                if out is not None:
                    ops.append((name, out[0]))
                    frames[name] = out[1]
        dt = time.perf_counter() - t0
        run.tracer.enabled = False
        root = run.tracer.last("pass") if traced else None
        if timed:
            run.record_pass(dt, ops, root)
            if not checked:
                run.checks.append(("check queries", lambda: check_queries(run, specs, frames)))
                checked = True

    run.timed_passes(run_pass)


def check_queries(run: Run, specs, frames: dict) -> None:
    """Compare each query's result with its DuckDB oracle."""
    from tests.oracle import compare, duckdb_connection

    con = duckdb_connection(run.sf_dir)
    con.execute(f"SET temp_directory='{os.path.join(run.tmp, 'duckdb')}'")
    try:
        for name, df in frames.items():
            try:
                problems = compare(df, con, specs[name].oracle)
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                problems = [f"{type(e).__name__}: {e}"]
            if problems:
                run.fail(f"check {name}", "; ".join(problems))
    finally:
        con.close()


# ---- ingest workload --------------------------------------------------------


def run_ingest(run: Run) -> None:
    from end_to_end_data_engineering_project_with_databricks_spark.pipeline.video_etl import (
        load_raw,
        transform,
    )
    from end_to_end_data_engineering_project_with_databricks_spark.sources.versioned import (
        compact,
        idempotent_append,
        merge_upsert,
        read,
    )

    shape = inputs.INGEST_SHAPES[run.scale]
    tr = run.tracer
    spark = run.spark
    checked = False

    def land(step: inputs.IngestStep, raw_dir: str):
        with tr.span("pipeline.video_etl.load_raw"):
            path = load_raw(step.payload, step.keyword, raw_dir)
        with tr.span("pipeline.video_etl.transform"):
            return transform(spark, step.keyword, path)

    def read_back(root: str) -> tuple[int, int]:
        with tr.span("sources.versioned.read"):
            r = read(spark, root).agg(
                F.count(F.lit(1)), F.countDistinct("videoId")
            ).first()
        return r[0], r[1]

    def run_pass(p: int, traced: bool, timed: bool) -> None:
        nonlocal checked
        t_gen = time.perf_counter()
        steps = inputs.ingest_pass(run.seed, p, shape)
        replay = inputs.Replay()
        expected = []
        for step in steps:
            if step.kind == "append":
                replay.append(step.payload)
            else:
                replay.merge(step.payload)
            expected.append(replay.summary())
        if not timed:
            run.setup_excluded_s += time.perf_counter() - t_gen
        base = os.path.join(run.tmp, "ingest", f"pass{p}")
        raw_dir, root = os.path.join(base, "raw"), os.path.join(base, "table")

        def step_op(step: inputs.IngestStep) -> tuple[float, tuple[int, int]]:
            t0 = time.perf_counter()
            if step.kind == "append":
                with tr.span("batch"):
                    df = land(step, raw_dir)
                    with tr.span("sources.versioned.idempotent_append"):
                        idempotent_append(df, root, "videoId")
            else:
                with tr.span("maint"):
                    df = land(step, raw_dir)
                    with tr.span("sources.versioned.merge_upsert"):
                        merge_upsert(df, root, "videoId")
                    with tr.span("sources.versioned.compact"):
                        compact(spark, root)
            dt = time.perf_counter() - t0
            return dt, read_back(root)

        tr.enabled = traced
        ops: list[tuple[str, float]] = []
        got = []
        t0 = time.perf_counter()
        with tr.span("pass"):
            for k, step in enumerate(steps):
                out = run.attempt(f"ingest pass {p} {step.kind} {k}", lambda: step_op(step))
                got.append(out)
                if out is not None and step.kind == "append":
                    ops.append(("append", out[0]))
        dt = time.perf_counter() - t0
        tr.enabled = False
        root_span = tr.last("pass") if traced else None
        if not timed:
            shutil.rmtree(base, ignore_errors=True)
            return
        landed = appended = rows = 0
        for step, out, exp in zip(steps, got, expected):
            if out is not None and out[1] != exp:
                run.fail(f"check ingest {step.keyword}", f"read back {out[1]}, expected {exp}")
            before, rows = rows, exp[0] if out is None else out[1][0]
            if step.kind == "append":
                landed += len(step.payload["items"])
                appended += rows - before
        run.record_pass(dt, ops, root_span)
        if root_span is not None:

            def table_stats() -> None:
                files = read(spark, root).inputFiles()
                live = sum(os.path.getsize(urlparse(f).path) for f in files)
                written = sum(
                    os.path.getsize(os.path.join(d, f))
                    for d, _, fs in os.walk(root)
                    for f in fs
                )
                row = run.layer_rows[-1]
                row["sources.versioned.new_row_ratio"] = appended / landed
                row["sources.versioned.live_files"] = float(len(files))
                row["sources.versioned.live_bytes_per_row"] = live / rows
                row["sources.versioned.written_bytes_per_row"] = written / rows

            run.attempt(f"ingest table stats pass {p}", table_stats)
        if checked:
            shutil.rmtree(base, ignore_errors=True)
            return
        checked = True

        def check_table() -> None:
            # this pass's table is kept until the check has read it
            table = read(spark, root).select("videoId", "title").collect()
            shutil.rmtree(base, ignore_errors=True)
            if Counter(map(tuple, table)) != Counter(replay.rows):
                run.fail("check ingest table", "final (videoId, title) rows differ from replay")

        run.checks.append(("check ingest table", check_table))

    run.timed_passes(run_pass)
