"""Benchmark for flux_spark: workloads ``log_tail`` and ``lake_queries``.

Run from the root of a checkout (the directory holding ``flux_spark/``):

    python3 perfbench/run.py --workload log_tail --seed 1 --seconds 15 --trace 0

``--workload all`` runs both workloads one after another in one
process. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Earlier lines list
every metric by name with its unit. The exit code is 1 when any output
check failed, 2 when the run could not start.

Everything the run writes goes under ``.bench_build/perfbench/`` in the
checkout; its per-run scratch and temporary directories are removed at exit
and the traced run's spans are kept in ``.bench_build/perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3  # set-ups per run; setup_s is their median
# metrics of the final line, per mode (BENCHMARK.json lists the same names)
END_TO_END = ("setup_s", "unit_s", "op_p50_ms")
PER_LAYER = (
    "exec_busy_ratio",
    "spark.jobs",
    "spark.tasks",
    "spark.exec_run_ms",
    "trace.spans",
    "trace.overhead_est_pct",
    "catalog.calls_per_record",
    "murmur2.partition_for_key.calls",
    "producer.flush.fast_lane_ratio",
    "consumer.poll.fast_lane_ratio",
    "log.read_since.files_opened_per_call",
    "log.read_since.useful_file_ratio",
    "log.segment_files_per_partition",
    "consumer.offsets_files",
    "log.append.write_tasks",
    "log.append.shuffle_write_bytes",
    "log.read.scan_tasks",
    "streaming.drain.batches",
    "streaming.files_listed",
    "analytics.jobs",
    "analytics.tasks",
    "llm.jobs",
    "llm.tasks",
    "llm.bytes_to_python",
)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _start_session(work: str, cores: int, event_dir: str | None):
    from flux_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _label_cost_us(spark, calls: int = 200) -> float:
    """Cost of the get+set of ``spark.job.description`` a labelled span adds."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    for _ in range(calls):
        prev = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", prev)
    return (time.perf_counter() - t0) / calls * 1e6


def run_workload(name: str, args, root: str, cores: int, capture: bool = False) -> dict:
    import spans
    import workloads

    work = os.path.join(root, ".bench_build", "perfbench", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    ctx = workloads.Ctx(work=work, seed=args.seed, seconds=args.seconds, cores=cores)
    wl = workloads.LakeQueries(capture) if name == "lake_queries" else workloads.LogTail()
    try:
        setup_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = _start_session(work, cores, event_dir)
            workloads.warm_up(ctx, spark, rep)
            setup_s.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                spark.stop()

        wl.prime(ctx, spark)
        if args.trace:
            ctx.tracer = spans.Tracer()
            ctx.tracer.install_flux()
        t_start = time.time()
        try:
            wl.measure(ctx, spark)
        finally:
            if ctx.tracer is not None:
                ctx.tracer.uninstall()
        t_end = time.time()

        e2e = wl.end_to_end(ctx)
        jvm = spark.sparkContext._gateway.proc
        e2e["setup_s"] = (workloads.median(setup_s), "s")
        e2e["setup_first_s"] = (setup_s[0], "s")
        e2e["peak_rss_mb"] = (_vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm.pid), "MB")
        e2e["error_rate"] = (ctx.failed / max(ctx.attempted, 1), "ratio")
        layers = None
        if args.trace:
            label_us = _label_cost_us(spark)
        spark.stop()
        if args.trace:
            import layers as layer_mod

            layers = layer_mod.per_layer(
                ctx, wl, event_dir, t_start, t_end, spans.wrapper_cost_us(), label_us
            )
            trace_dir = os.path.join(root, ".bench_build", "perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(trace_dir, f"{name}-seed{args.seed}.jsonl"))
        if capture:
            with open(workloads.EXPECTED_LAKE, "w") as f:
                json.dump(wl.captured, f, indent=1, sort_keys=True)
                f.write("\n")
        return {"ctx": ctx, "e2e": e2e, "layers": layers}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _shutdown_jvm() -> None:
    """Stop the JVM the session started and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["log_tail", "lake_queries", "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument(
        "--capture-expected",
        action="store_true",
        help="lake_queries only: write each query's (rows, hash) to expected_lake.json",
    )
    args = p.parse_args(argv)
    if args.capture_expected and args.workload != "lake_queries":
        p.error("--capture-expected needs --workload lake_queries")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flux_spark", "__init__.py")):
        print("perfbench: run from the root of a flux_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # Spark gets half the cores the process may use: the other half runs the
    # Python driver, the JIT compiler and GC threads and the Python workers,
    # so task threads do not queue behind them (the work at these sizes is
    # bound by per-job overhead, not by task parallelism)
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # this run's temporary files (Spark local dirs, shipped package copies,
    # tables the queries stage), removed once the JVM has exited
    tmp = os.path.join(root, ".bench_build", "perfbench", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = tmp

    names = ["log_tail", "lake_queries"] if args.workload == "all" else [args.workload]
    results = {}
    try:
        for name in names:
            results[name] = run_workload(name, args, root, cores, args.capture_expected)
    finally:
        _shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)

    attempted = failed = 0
    final: dict = {}
    for name, res in results.items():
        ctx = res["ctx"]
        attempted += ctx.attempted
        failed += ctx.failed
        for err in ctx.errors:
            print(f"FAILED {err}", file=sys.stderr)
        print(f"== {name} (seed {args.seed}, {cores} cores, trace {args.trace})")
        for metric, (value, unit) in sorted(res["e2e"].items()):
            print(f"{name} {metric} {value:.6g} {unit}")
        if res["layers"] is not None:
            for metric, (value, unit) in sorted(res["layers"].items()):
                print(f"{name} layer {metric} {value:.6g} {unit}")
        picked = res["layers"] if args.trace else res["e2e"]
        keys = PER_LAYER if args.trace else END_TO_END
        prefix = f"{name}." if len(results) > 1 else ""
        for k in keys:
            value, unit = picked[k]
            final[prefix + k] = {"value": value, "unit": unit}
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": final}
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
