"""osmesa-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_apps --seed 1 --seconds 30 --trace 0

Runs from the root of a source checkout: it imports `osmesa_spark` from
the checkout, generates its seeded inputs under `.perfbench_work/`
(cached per seed), starts one local Spark session on every available
core, sets up the workload, measures one cycle of it, checks its outputs
after the timed region and prints, as the last line of stdout,

    {"correct": ..., "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` a
traced pass is run (Spark event log on, one job group per layer) and the
metrics are the per-layer ones. Diagnostics go to stderr. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3  # the workload's own set-up runs this often; setup_s takes the median

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
LAYERS = (
    "operators.geometry", "operators.geocode", "operators.stats",
    "operators.rollups", "operators.vectorgrid", "sinks.mvt",
    "sources.replication", "streaming.stats_stream", "streaming.tiles_stream",
    "sinks.upsert", "operators.dedup", "operators.similarity",
    "operators.curation", "queries",
)
GENERIC_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s",
                 "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
SPECIAL_UNITS = {
    "catchup_seqs_per_s": "1/s",
    "tail_latency_p50_s": "s",
    "operators.geocode.grid_build_s": "s",
    "sinks.mvt.tiles_written": "count",
    "sinks.mvt.bytes_written": "bytes",
    "sinks.mvt.python_s": "s",
    "sources.replication.rows": "count",
    "sources.replication.dead_letter_ratio": "ratio",
    "streaming.stats_stream.batch_ms_p50": "ms",
    "streaming.stats_stream.planning_ms_p50": "ms",
    "streaming.stats_stream.addbatch_ms_p50": "ms",
    "streaming.stats_stream.wal_ms_p50": "ms",
    "streaming.stats_stream.state_rows": "count",
    "streaming.stats_stream.state_mb": "MB",
    "streaming.tiles_stream.batch_ms_p50": "ms",
    "streaming.tiles_stream.addbatch_ms_p50": "ms",
    "sinks.upsert.write_s_p50": "s",
    "sinks.upsert.table_rows": "count",
    "sinks.upsert.rewrite_ratio": "ratio",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.candidate_precision": "ratio",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.py4j_calls": "count",
    "session.start_s": "s",
    "setup.gen_s": "s",
    "setup.prepare_s": "s",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
    "failed_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{k}": u for layer in LAYERS for k, u in GENERIC_UNITS.items()}
    units.update(SPECIAL_UNITS)
    return units


class Context:
    """What a workload needs from the harness: the session, the tracer,
    its seed, the input cache and a per-run scratch directory."""

    def __init__(self, spark, tracer, seed: int, run_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.inputs = os.path.join(WORK, "inputs")
        self.run_dir = run_dir
        self.stream_layers: dict[str, str] = {}
        self.stream_busy: dict[str, float] = {}
        os.makedirs(self.inputs, exist_ok=True)

    def log(self, msg: str) -> None:
        _log(msg)

    def scratch(self, name: str) -> str:
        path = os.path.join(self.run_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def _host_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...); steal is time the
    hypervisor gave to other guests, a diagnostic for host contention."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _sandbox_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    checkout, and size the session to the cores this process may use."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _start_session(run_dir: str, trace: bool):
    from osmesa_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _layer_metrics(ctx, traced: dict, untraced_wall: float, setup: dict) -> dict:
    from tracing import parse_event_log, read_event_logs, self_times

    units = per_layer_units()
    values = {name: 0.0 for name in units}
    self_s = self_times(ctx.tracer.spans)
    jobs = parse_event_log(
        read_event_logs(os.path.join(ctx.run_dir, "eventlog")), ctx.stream_layers)
    # a stream's busy time includes the sink spans run inside its batches
    children = {"streaming.stats_stream": ("sinks.upsert",),
                "streaming.tiles_stream": ("operators.vectorgrid", "sinks.mvt")}
    for layer in LAYERS:
        for k, v in jobs.get(layer, {}).items():
            values[f"{layer}.{k}"] = v
        if layer in ctx.stream_busy:
            inner = sum(self_s.get(c, 0.0) for c in children.get(layer, ()))
            values[f"{layer}.wall_s"] = max(ctx.stream_busy[layer] - inner, 0.0)
        else:
            values[f"{layer}.wall_s"] = self_s.get(layer, 0.0)
    values["sinks.mvt.python_s"] = sum(
        s.get("py_cpu_s", 0.0) for s in ctx.tracer.spans if s["name"] == "sinks.mvt")
    values["queries.construct_jobs"] = values["queries.jobs"]
    values.update(traced["specials"])
    values.update(setup["specials"])
    values["session.start_s"] = setup["session_s"]
    values["setup.gen_s"] = setup["gen_s"]
    values["setup.prepare_s"] = setup["prepare_s"]
    values["trace.overhead_s"] = traced["wall_s"] - traced.get(
        "reference_wall_s", untraced_wall)
    return {k: {"value": values[k], "unit": units[k]} for k in sorted(units)}


def _set_up(ctx, workload, session_s: float) -> dict:
    """Inputs (generated or reused; not part of setup_s), then the
    workload's own set-up SETUP_REPEATS times: setup_s is the session start
    plus the median of those."""
    t = time.perf_counter()
    workload.generate(ctx)
    gen_s = time.perf_counter() - t
    times, specials = [], []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        specials.append(workload.prepare(ctx))
        times.append(time.perf_counter() - t)
    prepare_s = statistics.median(times)
    return {
        "session_s": session_s, "gen_s": gen_s, "prepare_s": prepare_s,
        "setup_s": session_s + prepare_s,
        "specials": {k: statistics.median(s[k] for s in specials) for k in specials[0]},
    }


def _run(args, workload, run_dir: str):
    """Session, set-up, timed region, output checks and (with --trace 1)
    the traced pass; returns the metrics to print and the failure record."""
    from tracing import ResourceMeter, Tracer

    spark = None
    traced = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(run_dir, bool(args.trace))
        ctx = Context(spark, Tracer(spark.sparkContext, enabled=False), args.seed, run_dir)
        setup = _set_up(ctx, workload, time.perf_counter() - t0)
        _log(f"{args.workload} seed={args.seed} setup {setup['setup_s']:.2f}s "
             f"(session {setup['session_s']:.2f}, prepare {setup['prepare_s']:.2f}; "
             f"inputs {setup['gen_s']:.2f})")
        with ResourceMeter() as meter:
            measured = workload.measure(ctx)
        fails = measured["fails"]
        workload.check(ctx, measured)
        _log(f"measured wall {measured['wall_s']:.2f}s cpu {meter.cpu_s:.2f}s")
        if args.trace:
            try:
                traced = workload.traced_pass(ctx)
            except Exception:  # noqa: BLE001 - counted, and the result still printed
                traced = {"wall_s": 0.0, "reference_wall_s": 0.0, "ok": False, "specials": {}}
                _log("traced pass raised " + traceback.format_exc())
            fails.check(traced["ok"], "traced pass output check")
        if fails.notes:
            _log("failed checks: " + "; ".join(fails.notes))
    finally:
        if spark is not None:
            _stop_session(spark)
    if args.trace:
        metrics = _layer_metrics(ctx, traced, measured["wall_s"], setup)
        metrics["failed_ratio"]["value"] = fails.failed / max(fails.attempted, 1)
        metrics["process.peak_rss_mb"]["value"] = meter.peak_rss / 1e6
        return metrics, fails
    values = {"setup_s": setup["setup_s"], "wall_s": measured["wall_s"], "cpu_s": meter.cpu_s}
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}, fails


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the common command line; each workload measures one
    # fixed cycle (a cold pass or a cold catch-up) whatever its length
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "osmesa_spark", "__init__.py")):
        _log(f"no osmesa_spark package next to {HERE}; run from a source checkout")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    workload = WORKLOADS[args.workload]()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _sandbox_env(run_dir)
    load, host0 = os.getloadavg(), _host_ticks()
    try:
        metrics, fails = _run(args, workload, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host1 = _host_ticks()
    total = sum(host1) - sum(host0)
    _log(f"loadavg at start {load[0]:.2f} {load[1]:.2f} {load[2]:.2f}; at end "
         + " ".join(f"{x:.2f}" for x in os.getloadavg())
         + f"; host steal {100 * (host1[7] - host0[7]) / max(total, 1):.1f}% of CPU time")
    print(json.dumps({
        "correct": fails.failed == 0,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
