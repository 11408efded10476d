"""SparkSession factory with the engine's tuned defaults.

The engine targets multi-executor clusters (``spark-submit --py-files``) but
is developed and tested on ``local[N]``.  Every knob set here is equally valid
on a real cluster; nothing is local-mode-specific.

Scale rationale (100 TB / 10^10-URL frontier):
 - AQE on: runtime coalescing of shuffle partitions + skew-join splitting is
   the backstop for the single-host skew the reference exhibits
   (everything under www.nrsr.sk; see /root/reference/nrsr/settings.py:30-33).
 - Arrow on: every custom kernel (URL canon, bloom probe, image decode) is a
   pandas/Arrow UDF -- per-row Python is banned on hot paths (BASELINE.json
   input_hint).
 - shuffle.partitions defaults to a small number for local test SFs; the
   epoch loop overrides per-stage via repartition() keyed on host_shard.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
# local mode runs every task inside the driver heap, and ParallelGC grows the
# heap toward -Xmx before collecting: a heap larger than the machine's RAM
# gets the JVM OOM-killed mid-run instead of collected.  Default to half the
# physical memory, at most 24g.
_RAM_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
DEFAULT_DRIVER_GB = max(1, min(24, _RAM_GB // 2))


def get_spark(
    app_name: str = "nrsr-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``);
    on a real cluster the caller simply omits it and lets spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Local-SF realism knob: the driver's ~10 MB test files are 1-3 scan
        # splits under the 128 MB default.  NB: split size cannot beat row
        # groups — the driver writes ONE row group per file, so real map-side
        # parallelism comes from sources.tpch.load's narrow repartition; the
        # smaller split default just keeps multi-file reads balanced.
        # Override with SPARK_GRAFT_MAX_PARTITION_BYTES=128m on real clusters.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{DEFAULT_DRIVER_GB}g"),
        )
        # ParallelGC: measured G1 spending 292 s (!) on its first heavy pass
        # growing the heap (humongous string allocations) vs a flat ~17 s
        # under ParallelGC; batch throughput workloads don't need G1's pause
        # targets.  Applies to executors via the same option on real submits.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_GC",
                f"-XX:+UseParallelGC -Xms{min(8, DEFAULT_DRIVER_GB)}g",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # COUNT(*) / MIN / MAX answered from parquet footer metadata — the
        # epoch loop's per-epoch delta counts become metadata-only jobs
        .config("spark.sql.parquet.aggregatePushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
