#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_curation --seed 1 --seconds 26 --trace 0

Workloads: ``batch_sql`` and ``batch_curation`` (closed loop over
registry queries) and ``stream_paced`` (open loop into three streaming
faces); see README.md.  With ``--trace 0`` the result carries the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run.  The last line of standard output is the result; the line before it
stamps the environment, the sample counts and any mismatch.  The exit
code is 0 only when every output matched ``expected.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import batch  # noqa: E402
import gen  # noqa: E402
import stream  # noqa: E402
from spans import (  # noqa: E402
    MemorySampler,
    Tracer,
    duration,
    event_log_conf,
    read_event_log,
    steal_s,
)

WORKLOADS = ("batch_sql", "batch_curation", "stream_paced")
#: Scale of the batch workloads' tables (60 000 lineitem rows).
BATCH_SF = 0.01
#: The box the figures are for: local[4] and a 2 GiB driver heap, which
#: also bounds how far the JVM's resident memory can drift with GC timing.
BOX_ENV = {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "2g"}
DEFAULT_SEED = 1

END_TO_END = {
    "setup_s": "s",
    "pass_s_p50": "s",
    "latency_s_p50": "s",
    "latency_s_p75": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "bench.stage_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_ratio": "ratio",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.read_skew": "ratio",
    "python_worker.run_s": "s",
    "python_worker.boot_s": "s",
    "python_worker.init_s": "s",
    "python_worker.sent_bytes": "bytes",
    "python_worker.received_bytes": "bytes",
    "storage.memory_used_bytes": "bytes",
    "storage.rdd_blocks": "count",
}
for _face in stream.FACES:
    PER_LAYER.update({
        f"streaming.{_face}.batches": "count",
        f"streaming.{_face}.trigger_s_p50": "s",
        f"streaming.{_face}.add_batch_s": "s",
        f"streaming.{_face}.overhead_s": "s",
        f"streaming.{_face}.queue_wait_s_p50": "s",
        f"streaming.{_face}.output_rows": "count",
        f"state.{_face}.rows_peak": "count",
        f"state.{_face}.all_updates_s": "s",
        f"state.{_face}.commit_s": "s",
        f"state.{_face}.memory_bytes_peak": "bytes",
    })
PER_LAYER.update({
    "streaming.backlog_files_max": "count",
    "generator.late_s_max": "s",
    "generator.arrivals": "count",
    "trace.overhead_ratio": "ratio",
})


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, tmp: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.sf_key = str(args.sf)
        self.tmp = tmp
        self.data_dir = os.path.join(tmp, "data")
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        with open(args.expected) as f:
            self.expected = json.load(f)
        self.tracer = Tracer()
        self.spark = None
        self.setup_s = None
        self.t_first = None

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START
        self.t_first = self.tracer.now()
        self.tracer.own_s = 0.0  # the overhead ratio covers the timed part only

    def storage_snapshot(self) -> dict:
        t0 = time.perf_counter()
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        snap = {
            "storage_bytes": sum(i.memSize() for i in infos),
            "rdd_blocks": sum(i.numCachedPartitions() for i in infos),
        }
        self.tracer.own_s += time.perf_counter() - t0
        return snap


def session_conf(ctx: Context) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.tmp, "warehouse"),
        "spark.local.dir": os.path.join(ctx.tmp, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.tmp}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if ctx.traced:
        conf.update(event_log_conf(os.path.join(ctx.tmp, "eventlog")))
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def run(args) -> tuple[dict, dict]:
    """Run one workload; returns (result line, stamp line)."""
    from udacity_dsnd_projects_spark.session import get_spark

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    # Spark's block manager, the JVM and the Python workers keep their
    # scratch files under the run's own directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    ctx = Context(args, tmp)
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "git_commit": git_commit(),
        "loadavg_start": loadavg(),
    }
    steal_start = steal_s()
    try:
        with MemorySampler() as mem:
            if args.workload != "stream_paced":
                with ctx.tracer.span("bench.stage"):
                    gen.write(ctx.data_dir, args.sf)
            with ctx.tracer.span("session.start"):
                partitions = stream.STREAM_PARTITIONS if args.workload == "stream_paced" else None
                ctx.spark = get_spark(
                    f"perfbench-{args.workload}",
                    shuffle_partitions=partitions,
                    extra_conf=session_conf(ctx),
                )
            import pyspark

            stamp["pyspark"] = pyspark.__version__
            if ctx.traced:
                ctx.tracer.sc = ctx.spark.sparkContext
            try:
                if args.workload == "stream_paced":
                    result = stream.run(ctx)
                else:
                    result = batch.run(ctx, args.workload)
            finally:
                stop_spark(ctx.spark)
        stamp["loadavg_end"] = loadavg()
        stamp["cpu_steal_s"] = steal_s() - steal_start
        stamp["samples"] = {k: n for k, (_, n) in result["e2e"].items()}
        stamp["mismatches"] = result["mismatches"]
        stamp["samples_s"] = result["samples_s"]
        if args.workload == "stream_paced":
            lateness = [a["arrived"] - a["due"] for a in result["arrivals"]]
            stamp["generator_late_s_max"] = max(lateness, default=0.0)
        if ctx.traced:
            metrics = traced_metrics(ctx, result)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            ctx.tracer.write(trace_path)
            stamp["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            e2e = {k: v for k, (v, _) in result["e2e"].items()}
            e2e["setup_s"] = ctx.setup_s
            e2e["peak_rss_mb"] = mem.peak_bytes / 2**20
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }
    return line, stamp


def traced_metrics(ctx: Context, result: dict) -> dict:
    log = read_event_log(os.path.join(ctx.tmp, "eventlog"))
    if ctx.workload == "stream_paced":
        values = stream.layers(ctx, result, log)
        timed_wall = result["window"][1] - result["window"][0]
    else:
        values = batch.layers(ctx, result, log)
        timed_wall = sum(duration(p) for p in result["passes"])
    spans = ctx.tracer.spans
    values["session.start_s"] = sum(duration(s) for s in spans if s["name"] == "session.start")
    values["bench.stage_s"] = sum(duration(s) for s in spans if s["name"] == "bench.stage")
    values["trace.overhead_ratio"] = timed_wall / max(timed_wall - ctx.tracer.own_s, 1e-9)
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=26)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=BATCH_SF, help="scale of the batch tables")
    ap.add_argument(
        "--expected",
        default=os.path.join(HERE, "expected.json"),
        help="fingerprints and stream counters to check against",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ.update(BOX_ENV)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    line, stamp = run(args)
    print(json.dumps({"perfbench": stamp}))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
