"""The engine's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Lines before it print every metric by name with its unit.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import tracing  # noqa: E402

E2E_UNITS = {"setup_s": "s", "latency_ms": "ms", "latency_hi_ms": "ms"}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "plans.construct_s": "s",
    "plans.eager_jobs": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.jvm_cpu_ms": "ms",
    "exec.python_worker_cpu_ms": "ms",
    "exec.slot_util": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.prep_s": "s",
    "source.backlog_files_max": "count",
    "gen.late_ms_max": "ms",
    "gen.events": "count",
    "batch.count": "count",
    "batch.input_rows": "count",
    "batch.trigger_ms_p50": "ms",
    "batch.add_batch_ms_p50": "ms",
    "batch.query_planning_ms_p50": "ms",
    "batch.wal_commit_ms_p50": "ms",
    "batch.commit_offsets_ms_p50": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    "sink.write_ms_p50": "ms",
    "sink.readback_s": "s",
    "traced.latency_ms": "ms",
    "traced.latency_hi_ms": "ms",
    "trace.unattributed_share": "ratio",
    "host.cpu_steal_share": "ratio",
    "baseline_local1.latency_ms": "ms",
    "baseline_local1.latency_hi_ms": "ms",
}


# Spans that time a layer, or the benchmark's own input generation,
# output check and tracing; the self time of every other span is
# unattributed.
LAYER_SPANS = ("session.", "gen.", "plans.", "exec.", "sources.", "jobs.", "stateful.",
               "sinks.", "microbatch", "check.", "trace.")


class Run:
    """State of one benchmark run: arguments, the Spark session, the
    tracer and counters, operation counts and the metrics gathered."""

    def __init__(self, args):
        self.clock = tracing.ProcessClock()
        self.seed, self.seconds, self.cores = args.seed, args.seconds, args.cores
        self.traced = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.tracer = tracing.Tracer(self.traced)
        self.layer = dict.fromkeys(LAYER_UNITS, 0.0)
        self.report: dict[str, float] = {}  # headline numbers, printed only
        self.samples: dict[str, list[float]] = {}  # raw samples, kept in the trace file
        self.attempted = self.failed = 0
        self.spark = self.counters = None

    def dir(self, name: str) -> str:
        """A new directory for this run's files, inside its work directory."""
        p = os.path.join(self.work, name)
        os.makedirs(p)
        return p

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def start_session(self):
        from flink_samples_spark.session import get_spark

        t = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark()
        self.layer["session.start_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            self.counters = tracing.SparkCounters(self.spark)
        return self.spark

    def setup_done(self, warmup_started: float) -> None:
        self.setup_s = self.clock.age_s()
        self.layer["session.warmup_s"] = time.perf_counter() - warmup_started
        self.ticks0 = tracing.cpu_ticks()

    def measured(self) -> None:
        """Close the measured part of the run."""
        steal, total = (b - a for a, b in zip(self.ticks0, tracing.cpu_ticks()))
        self.report["host_cpu_steal_share"] = self.layer["host.cpu_steal_share"] = (
            steal / total if total else 0.0
        )

    def python_cpu_s(self) -> float:
        return tracing.descendants_cpu_s(self.counters.jvm_pid) if self.counters else 0.0


def _isolate(work: str, cores: int) -> None:
    """Keep every file the run writes (Spark's scratch, the JVM's and
    Python's temp files) inside the checkout."""
    for d in ("tmp", "spark"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _print_table(title: str, values: dict[str, float], units: dict[str, str]) -> None:
    print(title)
    for k, v in values.items():
        print(f"  {k:34s} {v:14.4f} {units.get(k, '')}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Half the cores: next to its task threads the engine keeps the
    # driver, the JVM's GC and JIT threads and (in the streams) a Python
    # worker per task busy. At one task slot per core the runs had more
    # runnable threads than cores and measured the host's scheduler
    # (CPU steal up to 18 %).
    ap.add_argument("--cores", type=int, default=max(1, len(os.sched_getaffinity(0)) // 2),
                    help="local[N] width (the traced stream_replay run adds a local[1] baseline)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "flink_samples_spark")):
        print(f"engine package flink_samples_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    run = Run(args)
    _isolate(run.work, args.cores)
    baseline, baseline_s = {}, 0.0
    if run.traced and args.workload == "stream_replay":
        # before this run's own JVM starts, so the two never share memory
        t = time.perf_counter()
        baseline = workloads.local1_baseline(run)
        baseline_s = time.perf_counter() - t
    try:
        with run.tracer.span("run", trace="run") as root:
            e2e = workloads.WORKLOADS[args.workload](run)
        if run.spark is not None and run.counters is not None:
            run.layer["session.jvm_peak_rss_mb"] = tracing.peak_rss_mb(run.counters.jvm_pid)
    finally:
        if run.spark is not None:
            _stop_spark(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:  # another run is still using it
            pass
    e2e["setup_s"] = run.setup_s - baseline_s
    if run.layer["exec.action_s"]:
        run.layer["exec.slot_util"] = run.layer["exec.task_run_ms"] / (
            run.layer["exec.action_s"] * 1000.0 * args.cores
        )
    if run.traced:
        for k in ("latency_ms", "latency_hi_ms"):
            run.layer[f"traced.{k}"] = e2e[k]
        selfs = metrics.self_times(run.tracer.spans)
        run.layer["trace.unattributed_share"] = sum(
            v for k, v in selfs.items() if not k.startswith(LAYER_SPANS)
        ) / (root["end"] - root["start"])
        for k, v in baseline.items():
            run.layer[f"baseline_local1.{k}"] = v
        out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"spans": run.tracer.spans, "self_s": selfs, "layer": run.layer,
                       "samples": run.samples}, f)
    run.report["error_rate"] = metrics.error_rate(run.attempted, run.failed)
    _print_table(f"{args.workload} seed={args.seed} end-to-end", {**e2e, **run.report},
                 {**E2E_UNITS, **workloads.REPORT_UNITS})
    for k, v in run.samples.items():
        print(f"  samples {k}: " + " ".join(f"{x:.3f}" for x in v))
    if run.traced:
        _print_table("per-layer (traced run)", run.layer, LAYER_UNITS)
    shown, units = (run.layer, LAYER_UNITS) if run.traced else (e2e, E2E_UNITS)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(shown[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
