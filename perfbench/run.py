"""Benchmark entry point.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 16 --trace 0

Runs one workload against the package in the parent directory, checks
its outputs, prints a readable summary and, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also writes a Spark event log, joins it to its spans and
reports the per-layer metrics instead. Exits non-zero when a check
fails or the package is missing. See README.md in this directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "proof_of_concept___cdc_w_iceberg_spark"
DRIVER_MEMORY = "2g"  # fixed heap: -Xms = -Xmx

# Gated end-to-end metrics: none is a wall time of the timed window.
# On a host shared with other machines, hypervisor steal stretches wall
# times by tens of percent for minutes at a time, so the latencies and
# throughput are printed in the summary but not gated.
E2E_UNITS = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}

HEAVY_SPANS = [
    "cdc.versioned.prepare", "cdc.versioned.apply", "cdc.versioned.read",
    "streaming.add_batch", "api.execute", "ext.dedup", "ext.ann",
    "ext.similarity", "operators.sketches", "ext.text",
]
SPAN_FIELDS = {"jobs": "count", "stages": "count", "tasks": "count",
               "executor_run_s": "s", "shuffle_bytes": "bytes",
               "self_s": "s", "driver_gap_s": "s"}

LAYER_UNITS = {
    "session.start_s": "s",
    "cdc.versioned.init_s": "s",
    "cdc.bucketed.init_s": "s",
    "cdc.versioned.prepare_s": "s",
    "cdc.versioned.apply_s": "s",
    "cdc.versioned.buckets_rewritten": "count",
    "cdc.versioned.rows_rewritten": "count",
    "cdc.versioned.rewrite_ratio": "ratio",
    "cdc.versioned.bytes_written": "bytes",
    "cdc.versioned.files_written": "count",
    "cdc.versioned.read_s": "s",
    "cdc.versioned.diff_s": "s",
    "cdc.versioned.files_live": "count",
    "cdc.versioned.expire_s": "s",
    "cdc.bucketed.buckets_rewritten": "count",
    "cdc.bucketed.bytes_written": "bytes",
    "cdc.bucketed.files_written": "count",
    "cdc.commit_p50_s": "s",
    "cdc.commit_tail_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.trigger_wait_ms": "ms",
    "streaming.events_per_batch": "count",
    "streaming.dlq_rows": "count",
    "streaming.rows_read_per_event": "ratio",
    "api.point_s": "s",
    "api.range_s": "s",
    "api.lake_sql_s": "s",
    "api.first_page_s": "s",
    "api.drain_s": "s",
    "api.rows_returned": "count",
    "ext.dedup.q_dedup_exact_s": "s",
    "ext.similarity.q_knn_graph_s": "s",
    "ext.ann.q_knn_graph_incremental_s": "s",
    "operators.sketches.q_sketch_theta_s": "s",
    "ext.text.q_bm25_s": "s",
    "curation.pass_s": "s",
    **{f"span.{s}.{f}": u for s in HEAVY_SPANS for f, u in SPAN_FIELDS.items()},
    "spark.unattributed_jobs": "count",
    "trace.latency_p50_s": "s",
    "trace.cpu_s_per_op": "s",
}

# Figures the summary prints under the names readers of the design
# notes know them by; "n/a" where a workload does not define one.
REPORT = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
          "throughput_per_s": "1/s", "freshness_p50_s": "s", "freshness_tail_s": "s",
          "commit_p50_s": "s", "commit_tail_s": "s", "events_per_s": "events/s",
          "query_p50_s": "s", "query_tail_s": "s", "queries_per_s": "ops/s",
          "pass_s": "s", "cpu_s_per_op": "s", "write_amp": "ratio",
          "space_amp": "ratio", "failed_ratio": "ratio", "peak_rss_mb": "MB"}


class Context:
    """What a workload needs and what it reports."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str):
        import numpy as np

        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.work = seed, seconds, work
        self.rng = np.random.default_rng(seed)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict[str, object] = {}
        self.stamps: dict[str, object] = {}
        self.setup_parts: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.window_start = self.window_end = 0.0
        self.window_cpu_s = 0.0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check failed: {what}")

    def attempt(self, fn, what: str) -> None:
        """Run one operation; it fails if it raises or returns False."""
        try:
            ok = fn() is not False
            if not ok:
                self.failures.append(f"{what} returned a wrong result")
        except Exception:  # a failed operation is counted, not fatal
            ok = False
            self.failures.append(f"{what} raised:\n{traceback.format_exc()}")
        self.attempted += 1
        self.failed += not ok

    def start_window(self, t0: float | None = None) -> None:
        import common

        self.window_start = t0 or time.time()
        self.window_cpu_s = -common.tree_cpu_s(os.getpid())

    def window_over(self) -> bool:
        return time.time() >= self.window_start + self.seconds

    def end_window(self, t_end: float | None = None) -> None:
        import common

        self.window_end = t_end or time.time()
        self.window_cpu_s += common.tree_cpu_s(os.getpid())

    def cpu_per_op(self, ops: int) -> None:
        """CPU seconds the program's processes used in the window, per
        operation completed in it."""
        self.e2e["cpu_s_per_op"] = self.window_cpu_s / ops


def parse_args(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str, trace: bool, cpus: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    this run's directory, before any of them starts."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "work", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # No hsperfdata files: the JVM would write them under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def layer_metrics(ctx, tracer, event_log: str | None) -> dict[str, float]:
    """Every per-layer metric; layers the workload did not exercise
    read 0. Span counters are per-call means over spans in the timed
    window."""
    import spans as tr

    out = {name: 0.0 for name in LAYER_UNITS}
    out.update({k: v for k, v in ctx.layer.items() if k in out})
    out["trace.latency_p50_s"] = ctx.e2e.get("latency_p50_s", 0.0)
    out["trace.cpu_s_per_op"] = ctx.e2e.get("cpu_s_per_op", 0.0)
    if event_log is None:
        return out
    jobs = tr.parse_event_log(event_log)
    breakdown, unattributed = tr.span_breakdown(tracer.spans, jobs)
    out["spark.unattributed_jobs"] = unattributed
    for name in HEAVY_SPANS:
        timed = [s for s in tracer.named(name)
                 if ctx.window_start <= s.start <= ctx.window_end]
        for f in SPAN_FIELDS:
            vals = [breakdown[s.span_id][f] for s in timed]
            out[f"span.{name}.{f}"] = sum(vals) / len(vals) if vals else 0.0
    return out


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait until it and every
    process it started (Python workers) have exited."""
    import subprocess

    import common
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = common.descendants(os.getpid()) - {os.getpid()}
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(common.alive(p) for p in started):
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import common

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench_runs", run_id)
    os.makedirs(run_dir, exist_ok=True)
    cpus = common.cpus()
    prepare_env(run_dir, bool(args.trace), cpus)

    cpu0, load0 = common.cpu_times(), common.loadavg()
    rss = common.RssSampler()
    rss.start()
    import spans as tr
    import workloads

    tracer = tr.Tracer(run_id)
    spark = None
    ctx = None
    try:
        with tracer.span("session.start"):
            from proof_of_concept___cdc_w_iceberg_spark.session import get_spark

            spark = get_spark(f"perfbench-{args.workload}")
        t_ready = time.time()
        if args.trace:
            tracer.sc = spark.sparkContext
        ctx = Context(spark, tracer, args.seed, args.seconds,
                      os.path.join(run_dir, "work"))
        ctx.layer["session.start_s"] = tracer.named("session.start")[0].wall
        try:
            workloads.WORKLOADS[args.workload](ctx)
        except Exception:  # the run fails, but still reports
            ctx.attempted += 1
            ctx.failed += 1
            ctx.failures.append(f"workload raised:\n{traceback.format_exc()}")
        t_checked = time.time()
        ctx.e2e["setup_s"] = (t_ready - T_PROCESS) + sum(ctx.setup_parts.values())
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)
    t_stopped = time.time()
    if ctx is None:
        return 1

    ctx.e2e["peak_rss_mb"] = rss.peak_mb
    steal, iowait = common.steal_iowait_pct(cpu0, common.cpu_times())
    ctx.stamps.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "sf": 0.1, **common.versions(),
        "git_sha": common.git_sha(ROOT), "source_digest": common.source_digest(ROOT, PACKAGE),
        "steal_pct": steal, "iowait_pct": iowait,
        "loadavg_start": load0, "loadavg_end": common.loadavg(),
        "setup_parts_s": ctx.setup_parts,
        "peak_rss_by_process_mb": rss.peak_by_process,
        "window_s": ctx.window_end - ctx.window_start,
        "check_s": t_checked - ctx.window_end,
        "stop_s": t_stopped - t_checked,
        "run_wall_s": time.time() - T_PROCESS,
    })
    event_log = None
    if args.trace:
        logs = [os.path.join(run_dir, "eventlog", n)
                for n in os.listdir(os.path.join(run_dir, "eventlog"))]
        event_log = logs[0] if len(logs) == 1 else None
        if event_log is None:
            ctx.check(False, "one finished event log")
    tracer.write(os.path.join(run_dir, "spans.jsonl"))
    layer = layer_metrics(ctx, tracer, event_log)

    correct = ctx.failed == 0 and all(k in ctx.e2e for k in E2E_UNITS)
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": ctx.e2e.get(k, 0.0), "unit": u}
                   for k, u in E2E_UNITS.items()}
    report = dict(ctx.e2e, **ctx.report, failed_ratio=ctx.failed / max(ctx.attempted, 1))
    result = {"correct": correct, "attempted": max(ctx.attempted, 1),
              "failed": ctx.failed, "metrics": metrics}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"result": result, "report": report, "stamps": ctx.stamps,
                   "layer": layer, "failures": ctx.failures}, f, indent=1, default=str)
    for d in ("work", "spark-local", "tmp", "eventlog", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    for msg in ctx.failures:
        print(f"FAILED {msg}", file=sys.stderr)
    print(f"run {run_id}: " + json.dumps(ctx.stamps, default=str))
    for name, unit in REPORT.items():
        v = report.get(name, "n/a")
        v = f"{v:.4f}" if isinstance(v, float) else str(v)
        print(f"  {name:<18} {v} {unit if v != 'n/a' else ''}".rstrip())
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
