"""Schedule-pass workloads: canon → dedup exchange → seen probe → pop →
URL rejoin, through the program's public entry points only:
``frontier.prepare_candidates_slim`` → ``seen.dedup_with_bloom`` →
``politeness.pop_budget`` → ``frontier.rejoin_urls``."""

from __future__ import annotations

import dataclasses
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

from perfbench import checks, gen
from perfbench.cpu import CpuClock
from perfbench.spark_stats import StatusStore
from perfbench.spans import Tracer

SINGLE_HOST = gen.FrontierSpec(
    n_hosts=1, zipf_s=1.0, n_candidates=300_000, dup_factor=4, n_seen=50_000,
    seen_overlap=0.25, exact_dup_share=0.01, budget=1000, num_salts=64,
    n_segments=32, bloom_fp=1e-3,
)
ZIPF_HOSTS = gen.FrontierSpec(
    n_hosts=1000, zipf_s=1.0, n_candidates=300_000, dup_factor=4, n_seen=200_000,
    seen_overlap=0.25, exact_dup_share=0.01, budget=None, num_salts=4,
    n_segments=32, bloom_fp=1e-3,
)
# seen set above seen._BROADCAST_KEYS_LIMIT (5M): dedup_with_bloom picks its
# partitioned cogroup regime by its own rule (~150 s a run; by hand only)
ZIPF_PARTITIONED = dataclasses.replace(ZIPF_HOSTS, n_candidates=600_000, n_seen=5_200_000)
SPECS = {
    "schedule_single_host": SINGLE_HOST,
    "schedule_zipf_hosts": ZIPF_HOSTS,
    "schedule_zipf_partitioned": ZIPF_PARTITIONED,
}


def write_parquet(pdf: pd.DataFrame, path: str, files: int = 8) -> None:
    """``pdf`` as ``files`` parquet files, rows dealt out round-robin (as
    Spark's ``repartition`` would), written by pyarrow rather than by a
    Spark job so that set-up spends no JVM time on it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i in range(files):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i::files], preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


class ScheduleInput:
    """Generated frontier, seen set and its filter, plus the expected
    result.  Spark-side inputs are written as parquet under ``tmp`` and read
    back, as a frontier and a seen table are read in a crawl."""

    def __init__(self, spark, spec: gen.FrontierSpec, seed: int, tmp: str, tracer: Tracer):
        from pyspark.sql import functions as F

        from nrsr_crawler_spark.operators import seen as seen_ops

        self.spec = spec
        self.n_segments = spec.n_segments
        t0 = time.perf_counter()
        g = gen.frontier(seed, spec)
        log(f"gen {time.perf_counter() - t0:.2f}")
        raw_path = os.path.join(tmp, "raw")
        write_parquet(g["raw"], raw_path)
        self.raw = spark.read.parquet(raw_path)
        self.n_candidates = len(g["raw"])
        log(f"raw written {time.perf_counter() - t0:.2f}")

        # url_hash of each canonical URL: Spark's xxhash64 over the
        # generator's canonical string (the engine's canonicalizer is not used)
        urls = g["urls"]
        hashed = (
            spark.createDataFrame(urls[["uid", "canon_url"]])
            .select("uid", F.xxhash64("canon_url").alias("url_hash"))
            .toPandas()
        )
        urls = urls.merge(hashed, on="uid")
        overlap = urls.loc[urls["uid"].isin(g["seen_uids"]), "url_hash"].to_numpy()
        extra = gen.seen_extra_hashes(g["rng"], g["n_seen_extra"], urls["url_hash"].to_numpy())
        seen_pdf = pd.DataFrame({"url_hash": np.concatenate([overlap, extra]).astype(np.int64)})
        seen_path = os.path.join(tmp, "seen")
        write_parquet(seen_pdf, seen_path)
        self.seen = spark.read.parquet(seen_path)
        log(f"seen written {time.perf_counter() - t0:.2f}")

        per_seg = max(spec.n_seen // spec.n_segments, 64)
        m_bits, k = seen_ops.bits_for(per_seg, spec.bloom_fp)
        m_bits = (m_bits + 7) // 8 * 8
        with tracer.span("seen.build") as sp:
            self.segments = seen_ops.build_segments(
                self.seen, n_segments=spec.n_segments, m_bits=m_bits, k=k
            ).persist()
            self.segments.count()
            # the broadcast regime reuses one broadcast handle across passes,
            # as the epoch loop does between seen-set snapshots
            self.bc = (
                seen_ops.collect_segments(spark, self.segments)
                if spec.n_seen <= seen_ops._BROADCAST_KEYS_LIMIT
                else None
            )
        self.build_s = sp.seconds
        log(f"filter built {time.perf_counter() - t0:.2f}")
        self.filter_mb = spec.n_segments * m_bits / 8 / 1e6

        self.budgets = g["budgets"]
        if spec.budget is not None:
            self.budget = spec.budget
        else:
            kv = []
            for h, b in sorted(self.budgets.items()):
                kv += [F.lit(h), F.lit(b)]
            self.budget = F.create_map(*kv)[F.col("host")]

        budgets_pdf = pd.DataFrame({"host": list(self.budgets), "budget": list(self.budgets.values())})
        self.expected = checks.expected_schedule(g["cand"], urls, seen_pdf, budgets_pdf)
        self.fresh_h = checks.fresh_per_host(g["cand"], urls, seen_pdf)
        self.seen_pdf = seen_pdf
        log(f"expected {time.perf_counter() - t0:.2f}")

    def fresh(self, cand):
        from nrsr_crawler_spark.operators import seen as seen_ops

        return seen_ops.dedup_with_bloom(
            cand, self.seen, self.segments, n_segments=self.spec.n_segments, bc=self.bc
        )

    def pop(self, fresh):
        from pyspark.sql import functions as F

        from nrsr_crawler_spark.operators import politeness

        return politeness.pop_budget(
            fresh, budget=self.budget, num_salts=self.spec.num_salts,
            tiebreak=[F.col("url_hash")],
        ).select("url_hash", "seq", "rk")

    def run_pass(self) -> pd.DataFrame:
        """One untraced pass; the popped batch is delivered to the caller."""
        from nrsr_crawler_spark.operators import frontier

        cand = frontier.prepare_candidates_slim(self.raw)
        keys = self.pop(self.fresh(cand))
        return frontier.rejoin_urls(keys, self.raw).toPandas()

    def check(self, got: pd.DataFrame) -> list[str]:
        return checks.check_schedule(got, self.expected, self.seen_pdf, self.budgets, self.fresh_h)


def traced_pass(inp, tracer: Tracer, store: StatusStore) -> tuple[dict, pd.DataFrame]:
    """The pass one layer at a time, each output materialised, so that
    time, rows and stages can be attributed to the layer."""
    from pyspark.sql import functions as F

    from nrsr_crawler_spark.functions import urls as U
    from nrsr_crawler_spark.operators import frontier
    from nrsr_crawler_spark.operators import seen as seen_ops

    m: dict = {}
    with tracer.span("schedule_pass") as root:
        with tracer.span("urls.canon") as sp:
            r = (
                U.with_canon(inp.raw, hash_col="url_hash")
                .agg(F.count("host").alias("n"), F.sum(F.col("url_hash") % 2).alias("h"))
                .collect()[0]
            )
        m["urls.canon_s"] = sp.seconds
        m["urls.canon_rows"] = int(r["n"])

        mark = store.job_mark()
        with tracer.span("frontier.dedup") as sp:
            cand = frontier.prepare_candidates_slim(inp.raw).persist()
            n_cand = cand.count()
        m["frontier.dedup_s"] = sp.seconds
        m["frontier.dedup_rows_in"] = inp.n_candidates
        m["frontier.dedup_rows_out"] = n_cand
        m["frontier.dedup_shuffle_mb"] = store.stats_since(mark).shuffle_write_mb

        mark = store.job_mark()
        with tracer.span("seen.probe") as sp:
            fresh = inp.fresh(cand).persist()
            n_fresh = fresh.count()
        m["seen.probe_s"] = sp.seconds
        m["seen.udf_rows"] = n_cand
        m["seen.exact_seen_rows"] = n_cand - n_fresh
        m["seen.probe_shuffle_mb"] = store.stats_since(mark).shuffle_write_mb

        mark = store.job_mark()
        with tracer.span("politeness.pop") as sp:
            keys = inp.pop(fresh).persist()
            n_keys = keys.count()
        st = store.stats_since(mark, tasks=True)
        m["politeness.pop_s"] = sp.seconds
        m["politeness.pop_rows_in"] = n_fresh
        m["politeness.pop_rows_out"] = n_keys
        m["politeness.pop_shuffle_mb"] = st.shuffle_write_mb
        m["politeness.pop_task_max_s"] = st.task_max_s
        m["politeness.pop_task_median_s"] = st.task_median_s

        mark = store.job_mark()
        with tracer.span("frontier.rejoin") as sp:
            out = frontier.rejoin_urls(keys, inp.raw).toPandas()
        m["frontier.rejoin_s"] = sp.seconds
        m["frontier.rejoin_rows"] = len(out)
        m["frontier.rejoin_shuffle_mb"] = store.stats_since(mark).shuffle_write_mb
    m["trace.pass_s"] = root.seconds

    # counter only, outside the pass span: rows the Bloom filter let through
    if inp.bc is not None:
        flagged = seen_ops.bloom_flag_broadcast(cand, inp.segments, inp.n_segments, bc=inp.bc)
    else:
        flagged = seen_ops.bloom_flag(cand, inp.segments, inp.n_segments)
    positive = flagged.filter(F.col("maybe_seen")).count()
    m["seen.bloom_positive_rows"] = positive
    m["seen.bloom_precision"] = m["seen.exact_seen_rows"] / positive if positive else 1.0
    for df in (cand, fresh, keys):
        df.unpersist()
    return m, out


def timed_passes(inp: ScheduleInput, seconds: float, store: StatusStore | None):
    """Passes until ``seconds`` have elapsed (at least three).  Returns the
    pass times, their CPU times, the shuffle bytes each wrote, the outputs,
    and how many failed."""
    times, shuffle, outputs, cpus, jit = [], [], [], [], []
    failed = 0
    clock = CpuClock()
    t_end = time.perf_counter() + seconds
    while len(times) < 3 or time.perf_counter() < t_end:
        mark = store.job_mark() if store else None
        t0 = time.perf_counter()
        clock.start()
        try:
            out = inp.run_pass()
        except Exception as exc:  # a pass that raises counts as failed
            failed += 1
            times.append(time.perf_counter() - t0)
            cpus.append(clock.stop())
            outputs.append(exc)
            continue
        times.append(time.perf_counter() - t0)
        cpus.append(clock.stop())
        jit.append(clock.jit_s)
        outputs.append(out)
        if store:
            shuffle.append(store.stats_since(mark).shuffle_write_mb)
    log(f"JIT cpu {[round(c, 2) for c in jit]} s")
    return times, cpus, shuffle, outputs, failed


# Pass times on 4 cores fall steeply over the first three passes (Python
# workers, codegen, JIT) and level off from about the fourth (README:
# noise); the median of the timed passes absorbs a fourth pass that is still
# high.  With two warm-up passes the spread of the gated CPU figure between
# runs rose from ~0.045 to 0.09-0.13.  A fixed count keeps both set-up time
# and the warm state comparable between runs, which a stop-when-level rule
# did not.
WARM_PASSES = 3


def warm_up(inp: ScheduleInput) -> list[float]:
    """Untimed passes before the timed ones."""
    times = []
    for _ in range(WARM_PASSES):
        t0 = time.perf_counter()
        inp.run_pass()
        times.append(time.perf_counter() - t0)
    return times


ZERO_CRAWL_LAYERS = (
    "parse.pages", "parse.children_s", "parse.children_rows", "parse.items_s",
    "parse.typed_s", "parse.item_rows", "parse.udf_mb", "lake.write_s",
    "lake.files_written", "lake.read_merged_s", "lake.files_read", "lake.write_mb",
    "epoch_loop.epochs", "epoch_loop.spark_jobs", "epoch_loop.jobs_per_epoch",
    "epoch_loop.epoch_median_s", "epoch_loop.epoch_max_s", "epoch_loop.resume_s",
    "epoch_loop.not_modified", "epoch_loop.revalidate_ratio",
)


def median_metrics(runs: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]}


def session_metrics(st) -> dict:
    return {
        "session.stages": st.stages,
        "session.tasks": st.tasks,
        "session.executor_run_s": st.executor_run_s,
        "session.gc_s": st.gc_s,
        "session.spill_mb": st.spill_mb,
    }


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(spark, workload, seed, seconds, trace, work, store, tracer, process_start) -> dict:
    spec = SPECS[workload]
    os.makedirs(work)
    inp = ScheduleInput(spark, spec, seed, work, tracer)
    log(f"input ready at {time.perf_counter() - process_start:.2f} s")
    warm = warm_up(inp)
    setup_s = time.perf_counter() - process_start
    log(f"warm-up passes {[round(t, 3) for t in warm]}")

    times, cpus, shuffle, outputs, failed = timed_passes(inp, seconds, store)
    errors = []
    for out in outputs:
        if isinstance(out, Exception):
            errors.append(f"pass raised {out!r}")
            continue
        e = inp.check(out)
        if e:
            failed += 1
            errors += e
    med = statistics.median(times)
    log(f"timed passes {[round(t, 3) for t in times]} s, cpu {[round(c, 2) for c in cpus]} s")
    res = {
        "attempted": len(times),
        "failed": failed,
        "errors": errors,
        "end_to_end": {
            "setup_s": setup_s,
            "urls_per_cpu_s": inp.n_candidates / statistics.median(cpus),
            "shuffle_write_mb": statistics.median(shuffle),
        },
        "layers": {},
    }
    if trace:
        # the Zipf run also carries the crawl's traced round, so it traces
        # one pass to stay inside the run time limit
        with_crawl = workload == "schedule_zipf_hosts"
        mark = store.job_mark()
        traced = []
        for _ in range(1 if with_crawl else 3):
            m, out = traced_pass(inp, tracer, store)
            errors += inp.check(out)
            traced.append(m)
        layers = median_metrics(traced)
        st = store.stats_since(mark)
        layers.update(session_metrics(st))
        for k in ("session.stages", "session.tasks", "session.executor_run_s", "session.gc_s", "session.spill_mb"):
            layers[k] /= len(traced)
        layers["trace.overhead_s"] = layers.pop("trace.pass_s") - med
        layers["wall.urls_per_s"] = inp.n_candidates / med
        layers["seen.build_s"] = inp.build_s
        layers["seen.filter_mb"] = inp.filter_mb
        if with_crawl:
            from perfbench import crawl

            cl = crawl.traced_layers(spark, seed, os.path.join(work, "crawl"), store, tracer, res)
            layers.update({k: cl[k] for k in ZERO_CRAWL_LAYERS})
        else:
            layers.update({k: 0 for k in ZERO_CRAWL_LAYERS})
        res["layers"] = layers
    return res
