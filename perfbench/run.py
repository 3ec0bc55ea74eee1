#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run generates the workload's inputs
from the seed, computes the DuckDB oracle results, then, in one process on
``local[nproc]`` with one closed-loop client:

1. set-up: create the session, ship the package, finish one trivial job;
2. cold pass: every operation once;
3. warm passes: the same operations again, at least the workload's
   ``warm_passes`` of them and until they add up to ``--seconds``.

Every output is checked outside the timed calls. With ``--trace 0`` the
last stdout line carries the end-to-end metrics. With ``--trace 1`` the
set-up is traced, and after the cold pass three warm passes run in the
same session: an untraced one, one traced pass (spans, Spark's event log
attached to the running context, every job tagged with its span id, a
streaming listener registered), and another untraced one. The last
stdout line carries the per-layer metrics of the traced pass and the
tracing overhead: its time minus the mean of the two untraced passes
around it. ``--seconds`` does not lengthen a traced run. Spans are
written to ``.perfbench/trace-<workload>-<seed>.json``.

All files are written under ``.perfbench/`` in the checkout; the run's
own directory is removed when it ends. Without the package beside this
directory the run exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.create_s": "s",
    "session.ship_package_s": "s",
    "session.first_job_s": "s",
    "pipeline.fetch_versions_s": "s",
    "pipeline.select_keys_s": "s",
    "pipeline.sync_s": "s",
    "pipeline.keys_selected": "count",
    "pipeline.load_s": "s",
    "ingest.rows_landed": "count",
    "ingest.jobs": "count",
    "ingest.python_bytes": "bytes",
    "ingest.busy_ratio": "ratio",
    "pipeline.compress_s": "s",
    "compress.rows_in": "count",
    "compress.rows_out": "count",
    "compress.keep_ratio": "ratio",
    "compress.shuffle_bytes": "bytes",
    "compress.files_written": "count",
    "compress.bytes_written": "bytes",
    "stored_bytes_per_input_byte": "ratio",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_ratio": "ratio",
    "exec.no_job_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.python_bytes": "bytes",
    "exec.max_task_skew": "ratio",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.planning_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "bench.failed_op_ratio": "ratio",
    "bench.tracing_overhead": "s",
}
# The driver heap is capped below the package default (8g). With 8g the
# JVM's resident size follows how far G1 chose to grow the heap, not what
# the work needs: ten etl_cycle seeds peaked between 2.2 and 3.8 GB (spread
# 0.23 on a 4-vCPU VM), too wide to hold peak_rss_mb to its bound; at 2g
# the same runs spread by under 0.1. Inputs are a few MB, so 2g spills nothing.
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(tracer, cores: int, work: str):
    """Create the session, ship the package, finish one trivial job;
    returns the session and the seconds each step took."""
    from k8e_fetch_spark.session import get_spark, ship_package

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}
    with tracer.span("session.setup"):
        t0 = time.perf_counter()
        with tracer.span("session.create"):
            spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
        t1 = time.perf_counter()
        with tracer.span("session.ship_package"):
            ship_package(spark)
        t2 = time.perf_counter()
        with tracer.span("session.first_job"):
            spark.range(1000).count()
        t3 = time.perf_counter()
    times = {"create": t1 - t0, "ship_package": t2 - t1, "first_job": t3 - t2, "total": t3 - t0}
    spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def stop_jvm(spark) -> None:
    """Stop the session, end the JVM and wait until every descendant
    process (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    from probes import _descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(_descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM between passes, so each
    warm pass starts from a similar heap instead of paying for the last."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def measure(args: argparse.Namespace, work: str, cores: int) -> dict:
    import workloads
    from probes import EventLog, RssSampler, Tracer, exec_summary, read_event_log, stream_probe_class, stream_summary

    wl = workloads.make(args.workload, work, args.seed)
    tracer = Tracer(enabled=bool(args.trace))  # a traced run records the set-up spans
    out: dict = {"inputs": wl.inputs}
    traced = None
    with RssSampler() as rss:
        spark, setup = start_session(tracer, cores, work)
        tracer.enabled = False

        def run_pass():
            settle(spark)
            return wl.run_pass(spark, tracer, rss.paused)

        try:
            passes = [wl.run_pass(spark, tracer, rss.paused)]
            if not args.trace:
                while len(passes) - 1 < wl.warm_passes or sum(p.seconds for p in passes[1:]) < args.seconds:
                    passes.append(run_pass())
            else:
                # one traced pass between two untraced ones, in the same session
                passes.append(run_pass())
                event_dir = os.path.join(work, "eventlog")
                probe = stream_probe_class()()
                spark.streams.addListener(probe)
                tracer.enabled, tracer.sc = True, spark.sparkContext
                with EventLog(spark.sparkContext, event_dir):
                    traced = run_pass()
                tracer.enabled, tracer.sc = False, None
                spark.streams.removeListener(probe)
                log = read_event_log(event_dir)
                passes.append(run_pass())
        finally:
            stop_jvm(spark)
    warm = passes[1:]
    every = [*passes[:2], traced, *passes[2:]] if traced else passes  # in run order
    attempted = sum(len(p.ops) for p in every)
    failed = [o for p in every for o in p.ops if not o.ok]
    warm_ops = [o.latency_s for p in warm for o in p.ops]
    op_times: dict[str, list[float]] = {}
    for p in every:
        for o in p.ops:
            op_times.setdefault(o.name, []).append(round(o.latency_s, 4))
            for step, s in o.parts.items():
                op_times.setdefault(f"{o.name}.{step}", []).append(round(s, 4))
    out.update(
        {
            "attempted": attempted,
            "failed": len(failed),
            "failures": sorted({f"{o.name}: {o.detail}" for o in failed}),
            "passes": len(passes),
            "op_samples": len(warm_ops),
            "pass_times": [round(p.seconds, 4) for p in passes],
            "op_times": op_times,
        }
    )
    pass_s = statistics.median(p.seconds for p in warm)
    if not args.trace:
        out["metrics"] = {
            "setup_s": setup["total"],
            "cold_pass_s": passes[0].seconds,
            "pass_s": pass_s,
            "op_p50_s": statistics.median(warm_ops),
            "peak_rss_mb": rss.peak / 2**20,
        }
        return out
    t = traced
    lo, hi = t.ops[0].start, t.ops[-1].end
    window = {"start": lo, "end": hi}

    def spans(name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in tracer.named(name, within=window)]

    def total(name: str) -> float:
        return sum(b - a for a, b in spans(name))

    ex = exec_summary(log, [(o.start, o.end) for o in t.ops], cores)
    load = exec_summary(log, spans("pipeline.load"), cores)
    comp = exec_summary(log, spans("pipeline.compress"), cores)
    build = exec_summary(log, spans("queries.build"), cores)
    st = stream_summary(probe.progress, lo, hi)
    lay = t.layer
    rows_in = lay.get("compress_rows_in", 0.0)
    m = {
        "session.create_s": setup["create"],
        "session.ship_package_s": setup["ship_package"],
        "session.first_job_s": setup["first_job"],
        "pipeline.fetch_versions_s": total("pipeline.fetch_versions"),
        "pipeline.select_keys_s": total("pipeline.select_keys"),
        "pipeline.sync_s": total("pipeline.sync"),
        "pipeline.keys_selected": lay.get("keys_selected", 0.0),
        "pipeline.load_s": total("pipeline.load"),
        "ingest.rows_landed": lay.get("rows_landed", 0.0),
        "ingest.jobs": load["jobs"],
        "ingest.python_bytes": load["python_bytes"],
        "ingest.busy_ratio": load["busy_ratio"],
        "pipeline.compress_s": total("pipeline.compress"),
        "compress.rows_in": rows_in,
        "compress.rows_out": lay.get("compress_rows_out", 0.0),
        "compress.keep_ratio": lay.get("compress_rows_out", 0.0) / rows_in if rows_in else 0.0,
        "compress.shuffle_bytes": comp["shuffle_write_bytes"],
        "compress.files_written": lay.get("compress_files_written", 0.0),
        "compress.bytes_written": lay.get("compress_bytes_written", 0.0),
        "stored_bytes_per_input_byte": (
            lay["stored_bytes"] / wl.inputs["decoded_bytes_in"] if "stored_bytes" in lay else 0.0
        ),
        "queries.build_s": total("queries.build"),
        "queries.build_jobs": build["jobs"],
        "queries.execute_s": total("queries.execute"),
        **{f"exec.{k}": v for k, v in ex.items()},
        **{f"streaming.{k}": v for k, v in st.items()},
        "bench.failed_op_ratio": len(failed) / attempted,
        "bench.tracing_overhead": t.seconds - (passes[1].seconds + passes[2].seconds) / 2,
    }
    out["metrics"] = m
    out["traced_pass_time"] = round(t.seconds, 4)
    tracer.write(
        os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed, "inputs": wl.inputs, "metrics": m},
    )
    return out


def report(res: dict, trace: bool) -> list[str]:
    """Human-readable lines, then the result as one JSON line (last)."""
    units = PER_LAYER if trace else END_TO_END
    lines = ["inputs " + json.dumps(res["inputs"], sort_keys=True)]
    lines.append(f"passes {res['passes']} pass_times_s {res['pass_times']}")
    if "traced_pass_time" in res:
        lines.append(f"traced pass_s {res['traced_pass_time']}")
    lines += [f"op {name} pass_times_s {times}" for name, times in res["op_times"].items()]
    lines += [f"FAILED {f}" for f in res["failures"]]
    lines.append(f"failed_op_ratio {res['failed'] / res['attempted']:.6f} ({res['failed']}/{res['attempted']})")
    for name, value in res["metrics"].items():
        extra = f" (n={res['op_samples']})" if name == "op_p50_s" else ""
        lines.append(f"metric {name} {value:.6g} {units[name]}{extra}")
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()},
    }
    return lines + [json.dumps(result)]


def stolen_seconds() -> float:
    """CPU time the hypervisor gave to other machines, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [HERE, ROOT]
    args = parse_args(argv)
    try:
        import k8e_fetch_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {"TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
         "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
         # every JVM the run starts keeps its temp files in the run directory
         # and writes no /tmp/hsperfdata_<user> counters file
         "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"}
    )  # fmt: skip
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    load_start, steal_start = os.getloadavg()[0], stolen_seconds()
    cwd = os.getcwd()
    os.chdir(work)  # anything the session drops in its cwd stays in the run directory
    try:
        res = measure(args, work, cores)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print(f"context nproc {os.cpu_count()} cores_used {cores} load1_start {load_start:.2f} "
          f"load1_end {os.getloadavg()[0]:.2f} steal_s {stolen_seconds() - steal_start:.2f}")  # fmt: skip
    print("\n".join(report(res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
