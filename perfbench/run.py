"""Frontier benchmark: one named workload in one Spark process.

    python3 perfbench/run.py --workload schedule_single_host --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run makes its inputs from ``--seed``,
starts Spark on ``local[N]`` (N = min(4, cores)), warms the workload up,
times passes for ``--seconds`` with tracing off (wall time and the CPU time
of the whole process tree), checks every output against a result computed
apart from the engine, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also calls each layer on its own under spans, prints the per-layer
metrics and writes the spans to ``.bench_traces/<workload>-<seed>.json``.
Spark's local dirs, lakes and scratch files live in a private directory
under ``.bench_tmp/`` that is deleted at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()

WORKLOADS = ("schedule_single_host", "schedule_zipf_hosts", "schedule_zipf_partitioned", "crawl_fixpoint")

END_TO_END = {
    "setup_s": "s",
    "urls_per_cpu_s": "URL/cpu-s",
    "shuffle_write_mb": "MB",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "urls.canon_s": "s", "urls.canon_rows": "row",
    "frontier.dedup_s": "s", "frontier.dedup_rows_in": "row",
    "frontier.dedup_rows_out": "row", "frontier.dedup_shuffle_mb": "MB",
    "frontier.rejoin_s": "s", "frontier.rejoin_rows": "row",
    "frontier.rejoin_shuffle_mb": "MB",
    "seen.probe_s": "s", "seen.udf_rows": "row", "seen.bloom_positive_rows": "row",
    "seen.exact_seen_rows": "row", "seen.bloom_precision": "ratio",
    "seen.probe_shuffle_mb": "MB", "seen.build_s": "s", "seen.filter_mb": "MB",
    "politeness.pop_s": "s", "politeness.pop_rows_in": "row",
    "politeness.pop_rows_out": "row", "politeness.pop_shuffle_mb": "MB",
    "politeness.pop_task_max_s": "s", "politeness.pop_task_median_s": "s",
    "parse.pages": "page", "parse.children_s": "s", "parse.children_rows": "row",
    "parse.items_s": "s", "parse.typed_s": "s", "parse.item_rows": "row",
    "parse.udf_mb": "MB",
    "lake.write_s": "s", "lake.files_written": "file", "lake.read_merged_s": "s",
    "lake.files_read": "file", "lake.write_mb": "MB",
    "epoch_loop.epochs": "epoch", "epoch_loop.spark_jobs": "job",
    "epoch_loop.jobs_per_epoch": "job/epoch", "epoch_loop.epoch_median_s": "s",
    "epoch_loop.epoch_max_s": "s", "epoch_loop.resume_s": "s",
    "epoch_loop.not_modified": "page", "epoch_loop.revalidate_ratio": "ratio",
    "session.start_s": "s", "session.stages": "stage", "session.tasks": "task",
    "session.executor_run_s": "s", "session.gc_s": "s", "session.spill_mb": "MB",
    "trace.overhead_s": "s", "wall.urls_per_s": "URL/s",
}


def _private_env(tmp: str, cores: int) -> None:
    """Everything Spark, the JVM and the Python workers write goes under
    ``tmp``; the package is importable in the Python workers."""
    for d in ("local", "java", "py"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a small fixed heap keeps the benchmark a good neighbour and its
    # memory high-water mark comparable between runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_GC"] = (
        "-XX:+UseParallelGC -Xms3g -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}"
    )


def _stop_jvm(spark) -> None:
    """Stop Spark and the driver JVM, and wait until the JVM has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _peak_rss_mb() -> float:
    """Kernel high-water mark of the largest child process waited for —
    the driver JVM, once :func:`_stop_jvm` has reaped it."""
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nrsr_crawler_spark")):
        print("perfbench: run from the repository root (nrsr_crawler_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    cores = min(4, os.cpu_count() or 1)
    tmp = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    spark = None
    try:
        _private_env(tmp, cores)
        from perfbench import crawl, schedule
        from perfbench.spark_stats import StatusStore
        from perfbench.spans import Tracer

        from nrsr_crawler_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t0
        store = StatusStore(spark)
        tracer = Tracer()
        run = crawl.run if args.workload == "crawl_fixpoint" else schedule.run
        res = run(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            os.path.join(tmp, "work"), store, tracer, PROCESS_START,
        )
        if args.trace:
            res["layers"]["session.start_s"] = session_start_s
            os.makedirs(os.path.join(ROOT, ".bench_traces"), exist_ok=True)
            tracer.write(os.path.join(ROOT, ".bench_traces", f"{args.workload}-{args.seed}.json"))
        _stop_jvm(spark)
        spark = None
        res["end_to_end"]["peak_rss_mb"] = _peak_rss_mb()
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_tmp"))
        except OSError:
            pass

    names, values = (PER_LAYER, res["layers"]) if args.trace else (END_TO_END, res["end_to_end"])
    missing = sorted(set(names) - set(values))
    if missing:
        print(f"perfbench: workload reported no value for {missing}", file=sys.stderr)
        return 3
    for err in res["errors"][:20]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
