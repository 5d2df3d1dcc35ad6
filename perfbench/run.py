"""Benchmark of the courlan_spark near-duplicate and frontier engine.

    python3 perfbench/run.py --workload {batch_dedup,incremental_delta,url_frontier}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One run:

1. pins the host settings (cores, driver memory, local dirs, one math
   thread per worker, the checkout on the workers' PYTHONPATH) and
   prints them;
2. makes the seeded corpus (``corpus.py``; not part of any metric);
3. builds the Spark session once, cold: ``setup_s`` is the time
   ``get_session`` takes to start the JVM and return a ready session,
   as every start of the pipeline CLI pays it;
4. runs the workload's untimed set-up and warm-up operation;
5. runs timed cycles, closed loop, until ``--seconds`` of cycle time
   have passed and the workload's ``min_cycles`` have run.  Before each
   cycle every cached frame and persisted RDD is dropped, so no cycle
   reuses an earlier one's data.  These are WARM runs: one JVM and one set of
   Python workers, after one warm-up operation.  Each cycle's outputs are
   checked, ``batch_dedup``'s after its time and CPU are taken, against
   the planted truth as the pipeline's default thresholds define it
   (``corpus.threshold_truth``);
6. prints ``# ...`` detail lines and, last, one JSON line:
   ``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace
   0`` the metrics are the end-to-end ones of ``BENCHMARK.json``; with
   ``--trace 1`` the Spark event log is on, every benchmark span tags
   its jobs, and the metrics are the per-layer ones (workload-specific
   layer figures and the tracing overhead are ``# layer`` lines, and
   the spans go to ``.bench_work/traces/``).  After the cycles, a
   traced run also makes the workload's layer operations (for
   ``batch_dedup``, one checked incremental delta ingest).

Everything the run writes stays under ``<checkout>/.bench_work``
(``PERFBENCH_WORK`` names another directory; the benchmark's own
tests use it to keep their tiny runs out of the checkout).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_MEM = "4g"


def parse_args(argv=None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def host_settings(work: str) -> dict:
    "Environment pins for this host; exported before Spark starts."
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    return {
        "cores": cores,
        "env": {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "TMPDIR": tmp,
            # the JVM's temp files stay in the checkout; no hsperfdata in /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "NUMEXPR_NUM_THREADS": "1",
            # without it every UDF fails with ModuleNotFoundError
            "PYTHONPATH": pythonpath,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        },
    }


def spark_conf(traced: bool, work: str) -> dict:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def isolate(spark) -> None:
    """Drop every cached frame and persisted RDD (localCheckpoint RDDs
    survive ``clearCache``), so a cycle never reads an earlier one's."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def stop_spark(spark, tree) -> None:
    """Stop the session, end the JVM, and wait until every process
    this run started has exited."""
    import signal

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while tree.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while tree.descendants() and time.time() < deadline + 10:
        time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "courlan_spark")):
        print(f"no courlan_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import report
    from perfbench.spans import PeakRss, ProcTree, Tracer, host_ticks
    from perfbench.workloads import WORKLOADS, CheckFailed, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    spec = report.load_spec(ROOT)
    workload = WORKLOADS[args.workload]
    traced = bool(args.trace)

    bench_root = os.environ.get("PERFBENCH_WORK") or os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    settings = host_settings(work)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(settings["env"])
    cores = settings["cores"]
    print("# settings " + json.dumps(
        {"cores": cores, "master": f"local[{cores}]", "traced": traced,
         "timing": "warm cycles in one JVM after an untimed warm-up; "
                   "caches and persisted RDDs dropped before each cycle",
         **settings["env"]}))

    tree = ProcTree()
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        with tracer.span("corpus"):
            corpus = workload.inputs(args.seed, cores)

        from courlan_spark.plans.session import get_session

        with tracer.span("session.get_session") as span:
            spark = get_session(
                app_name=f"perfbench-{args.workload}",
                cpus=cores,
                extra_conf=spark_conf(traced, work),
            )
        build_s = span["end"] - span["start"]
        spark.sparkContext.setLogLevel("ERROR")
        if traced:
            tracer.attach(spark.sparkContext)

        ctx = Ctx(spark=spark, tracer=tracer, workdir=work, seed=args.seed, corpus=corpus)
        attempted, failed = 1, 0
        with tracer.span("setup"):
            try:
                workload.setup(ctx)
            except CheckFailed as exc:
                print(f"# check failed in warm-up: {exc}", file=sys.stderr)
                failed += 1
        ctx.records.clear()

        cycles = []
        timed = 0.0
        while timed < args.seconds or len(cycles) < workload.min_cycles:
            isolate(spark)
            cpu0, ticks0 = tree.cpu_s(), host_ticks()
            completed = correct = True
            with PeakRss(tree) as rss, tracer.span("cycle") as cycle:
                try:
                    workload.cycle(ctx)
                except CheckFailed as exc:
                    # the operations returned, so their times count;
                    # their output is wrong, so they count as failed
                    correct = False
                    print(f"# check failed: {exc}", file=sys.stderr)
                except Exception:  # noqa: BLE001 — a failed op is counted
                    completed = correct = False
                    traceback.print_exc(file=sys.stderr)
            ticks1, cpu1 = host_ticks(), tree.cpu_s()
            if correct:
                try:
                    with tracer.span("verify"):
                        workload.verify(ctx)
                except CheckFailed as exc:
                    correct = False
                    print(f"# check failed: {exc}", file=sys.stderr)
            ops = max(report.count_ops(tracer.spans, cycle["id"]), 1)
            attempted += ops
            failed += 0 if correct else ops
            timed += cycle["end"] - cycle["start"]
            if completed:
                cycles.append({
                    "span": cycle, "rows": workload.rows(ctx),
                    "cpu_s": cpu1 - cpu0, "peak_rss_mb": rss.peak_mb,
                    "steal": (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1),
                })
            elif failed >= 3:
                break

        if not cycles:
            print("# no cycle completed; no metrics", file=sys.stderr)
            return 1
        e2e = report.end_to_end(tracer, cycles, build_s)
        lines = [f"# {k} = {v}" for k, v in report.describe(tracer, cycles, build_s).items()]

        if traced:
            from perfbench.kernels import kernel_metrics

            with tracer.span("kernels"):
                kernels = kernel_metrics(*report.kernel_inputs(ctx))
            layer_ops = workload.layers(ctx)
            for op in layer_ops:
                attempted += 1
                if op["error"]:
                    failed += 1
                    print(f"# check failed: {op['error']}", file=sys.stderr)
        app_id = spark.sparkContext.applicationId
        stop_spark(spark, tree)
        spark = None

        if traced:
            per_layer, layer_lines = report.per_layer(
                tracer, cycles, ctx.records, build_s, kernels, layer_ops,
                os.path.join(work, "eventlog", app_id), cores,
                report.last_untraced(bench_root, args.workload, args.seed, cycles[0]["rows"]),
            )
            metrics = report.select(spec["per_layer"], per_layer)
            lines += layer_lines
            trace_dir = os.path.join(bench_root, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = report.select(spec["end_to_end"], e2e)
            report.save_untraced(bench_root, args.workload, args.seed, cycles[0]["rows"], e2e)

        lines.append(f"# error_rate = {failed / attempted} ({failed} of {attempted} ops failed)")
        for line in lines:
            print(line)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
