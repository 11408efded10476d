"""Crawl workload: a fresh ``CrawlEngine.run`` to fixpoint over a wide
synthetic nrsr.sk site, typed items on.  The traced round goes on to
``compact`` and a revalidating recrawl of the same lake after a share of
page bodies changed (``expire_older_than(0)`` + ``run`` with
``http_cache=True``).  The program is reached only through
``CrawlEngine``'s public methods.

``crawl_fixpoint`` is not gated (its figures follow the host's load; see
the README), so the traced round also runs inside the traced run of
``schedule_zipf_hosts`` through :func:`traced_layers`."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import pandas as pd

from perfbench import checks, gen
from perfbench.cpu import CpuClock
from perfbench.schedule import log, session_metrics
from perfbench.spark_stats import StatusStore
from perfbench.spans import Tracer

SITE = gen.SiteSpec(
    periods=8, pages_per_period=1, details_per_page=60, members_per_period=30,
    changed_share=0.1,
)
ENGINE_ARGS = dict(budget_per_host=100_000, num_salts=16, n_segments=16, http_cache=True)
FETCHLOG_COLS = ["url_hash", "canon_url", "status"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class CrawlInput:
    """The site as the engine's page table, before and (for the recrawl)
    after the changed pages changed, plus the BFS truth."""

    def __init__(self, spark, seed: int, recrawl: bool):
        from nrsr_crawler_spark.sources.synthetic_site import BASE, PAGES_SCHEMA, SEED_URL, site_rows

        s = gen.site(seed, SITE)
        self.pages = s["pages"]
        self.changed = s["changed"]
        rows = site_rows(self.pages)
        # materialised once, so every round's engine reads the same JVM-side rows
        self.pages_df = spark.createDataFrame(rows, PAGES_SCHEMA).persist()
        self.pages_df.count()
        if recrawl:
            changed_rows = [
                (r[0], r[1], r[2], gen.changed_body(r[3], seed), *r[4:]) if r[0] in self.changed else r
                for r in rows
            ]
            self.changed_df = spark.createDataFrame(changed_rows, PAGES_SCHEMA).persist()
            self.changed_df.count()
        # the site root plus every period's list page: the crawl reaches the
        # whole site in two fetch epochs instead of three
        self.seed_urls = [SEED_URL] + sorted(u for u, p in self.pages.items() if p.kind == "list")
        self.reach = checks.reachable(self.pages, self.seed_urls, BASE)
        self.tolerated = checks.non_link_fetches(self.pages, self.reach, BASE)


class Round:
    """One fresh crawl to fixpoint on a new lake; with ``recrawl``, then
    ``compact`` and a revalidating recrawl after the changed pages changed."""

    def __init__(self, spark, inp: CrawlInput, lake: str, recrawl: bool = False,
                 tracer: Tracer | None = None, store: StatusStore | None = None):
        from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine

        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
        self.lake = lake
        self.run_marks = []
        self.recrawl = None
        self.mark_s = 0.0  # time spent reading the status store (traced round only)

        def mark():
            if store is None:
                return None
            t = time.perf_counter()
            m = store.job_mark()
            self.mark_s += time.perf_counter() - t
            return m

        t0 = time.perf_counter()
        clock = CpuClock()
        clock.start()
        with span("crawl_round"):
            with span("CrawlEngine"):
                eng = CrawlEngine(spark, inp.pages_df, lake, **ENGINE_ARGS)
            self.crawl_start = time.time()
            m0 = mark()
            with span("CrawlEngine.run"):
                self.crawl = eng.run(seeds=inp.seed_urls)
            self.run_marks.append((m0, mark()))
            self.crawl_wall = time.perf_counter() - t0
            self.crawl_cpu = clock.stop()
            self.crawl_jit = clock.jit_s
            # what the crawl itself wrote, before compaction and the recrawl
            self.crawl_lake_bytes = _dir_bytes(lake)
            if recrawl:
                with span("CrawlEngine.compact"):
                    eng.compact()
                with span("CrawlEngine"):
                    eng = CrawlEngine(spark, inp.changed_df, lake, **ENGINE_ARGS)
                with span("CrawlEngine.expire_older_than"):
                    eng.expire_older_than(0)
                self.recrawl_start = time.time()
                m0 = mark()
                with span("CrawlEngine.run"):
                    self.recrawl = eng.run()
                self.run_marks.append((m0, mark()))
        self.engine = eng

    # -- read back (outside the timed region) -------------------------------
    def outputs(self, spark) -> dict:
        lake = self.engine.lake
        e1 = self.crawl.epochs
        log_all = lake.read_all(spark, "fetch_log").select(*FETCHLOG_COLS, "epoch").toPandas()
        out = {
            "manifests": lake.metrics(),
            "crawl_log": log_all[log_all["epoch"] <= e1],
            "recrawl_log": log_all[log_all["epoch"] > e1],
        }
        if self.recrawl is not None:
            edges = lake.read_all(spark, "edges", since=e1).select("parent_hash").toPandas()
            items = lake.read_all(spark, "items", since=e1).select("canon_url").toPandas()
            expired = lake.read_all(spark, "expired").select("url_hash").toPandas()
            out["reparsed_parents"] = set(edges["parent_hash"])
            out["item_pages"] = set(items["canon_url"])
            out["tombstoned"] = set(expired["url_hash"])
        return out

    def check(self, inp: CrawlInput, out: dict) -> list[str]:
        errors = checks.check_crawl(
            out["crawl_log"], self.crawl.items, inp.pages, inp.reach, inp.tolerated
        )
        if self.recrawl is not None:
            url_hash_of = dict(zip(out["crawl_log"]["canon_url"], out["crawl_log"]["url_hash"]))
            errors += checks.check_recrawl(
                out["recrawl_log"], out["tombstoned"], url_hash_of, out["reparsed_parents"],
                out["item_pages"], inp.pages, inp.reach, inp.changed,
            )
        return errors


def _fetch_counts(out: dict) -> tuple[int, int]:
    logs = pd.concat([out["crawl_log"], out["recrawl_log"]])
    return len(logs), int(logs["status"].isin(["failed", "missing"]).sum())


class _CrawlSchedule:
    """The schedule pass's inputs rebuilt from a crawl lake: the links one
    epoch discovered, against the seen set as it stood before that epoch."""

    def __init__(self, spark, lake, epoch: int, tracer: Tracer):
        from pyspark.sql import functions as F

        from nrsr_crawler_spark.operators import seen as seen_ops

        edges = lake.read_all(spark, "edges", upto=epoch, since=epoch - 1)
        self.raw = edges.select(
            "url",
            (F.col("parent_seq") * (1 << 20) + F.col("child_idx")).alias("seq"),
            F.lit(0).alias("priority"),
        ).persist()
        self.n_candidates = self.raw.count()
        self.seen = lake.read_all(spark, "frontier", upto=epoch - 1).select("url_hash").persist()
        n_seen = self.seen.count()
        self.n_segments = ENGINE_ARGS["n_segments"]
        m_bits, k = seen_ops.bits_for(max(n_seen // self.n_segments, 64), 1e-4)
        m_bits = (m_bits + 7) // 8 * 8
        with tracer.span("seen.build") as sp:
            self.segments = seen_ops.build_segments(self.seen, self.n_segments, m_bits=m_bits, k=k).persist()
            self.segments.count()
            self.bc = seen_ops.collect_segments(spark, self.segments)
        self.build_s = sp.seconds
        self.filter_mb = self.n_segments * m_bits / 8 / 1e6

    def fresh(self, cand):
        from nrsr_crawler_spark.operators import seen as seen_ops

        return seen_ops.dedup_with_bloom(cand, self.seen, self.segments, self.n_segments, bc=self.bc)

    def pop(self, fresh):
        from pyspark.sql import functions as F

        from nrsr_crawler_spark.operators import politeness

        return politeness.pop_budget(
            fresh, budget=ENGINE_ARGS["budget_per_host"], num_salts=ENGINE_ARGS["num_salts"],
            tiebreak=[F.col("url_hash")],
        ).select("url_hash", "seq", "rk")


def _replay(spark, rnd: Round, out: dict, tracer: Tracer, store: StatusStore,
            schedule: bool = True) -> dict:
    """The widest crawl epoch's layer calls, replayed one at a time on state
    read back from the lake."""
    from pyspark.sql import functions as F

    from nrsr_crawler_spark.operators import parse as parse_ops
    from nrsr_crawler_spark.operators import parse_typed as PT
    from perfbench.schedule import traced_pass

    lake = rnd.engine.lake
    crawl_epochs = [m for m in out["manifests"] if m["epoch"] <= rnd.crawl.epochs]
    widest = max(crawl_epochs, key=lambda m: m["popped"])["epoch"]
    m: dict = {}

    pages = spark.read.parquet(str(lake.root / "pages")).select(
        F.col("page_hash").alias("url_hash"), "body"
    )
    fetched = (
        lake.read_all(spark, "fetch_log", upto=widest, since=widest - 1)
        .join(pages, "url_hash", "left")
        .persist()
    )
    m["parse.pages"] = fetched.count()
    with tracer.span("parse.extract_children") as sp:
        children = parse_ops.extract_children(fetched, rank_col="pop_rank").persist()
        m["parse.children_rows"] = children.count()
    m["parse.children_s"] = sp.seconds
    with tracer.span("parse.extract_items") as sp:
        n_items = parse_ops.extract_items(fetched).count()
    m["parse.items_s"] = sp.seconds
    typed_pages = fetched.select(
        F.col("canon_url").alias("page_url"), "body", PT.kind_expr(F.col("body")).alias("__kind")
    ).persist()
    n_typed = 0
    with tracer.span("parse_typed.TYPED_SINKS") as sp:
        kinds = {r["__kind"]: r["n"] for r in typed_pages.groupBy("__kind").count().withColumnRenamed("count", "n").collect()}
        for kind, (_, extract_fn, fold_fn) in PT.TYPED_SINKS.items():
            if kinds.get(kind, 0) > 0:
                n_typed += fold_fn(extract_fn(typed_pages, kind_col="__kind")).count()
    m["parse.typed_s"] = sp.seconds
    m["parse.item_rows"] = n_items + n_typed
    b = typed_pages.agg(
        F.sum(F.length("body")).alias("all"),
        F.sum(F.when(F.col("__kind") != "", F.length("body"))).alias("typed"),
    ).collect()[0]
    # bodies cross into Python once for links, once for items, and once more
    # for the pages a typed extractor takes
    m["parse.udf_mb"] = (2 * (b["all"] or 0) + (b["typed"] or 0)) / 1e6

    with tracer.span("EpochLake.write_delta") as sp:
        lake.write_delta("perfbench_replay", children, widest)
    m["lake.write_s"] = sp.seconds
    m["lake.files_written"] = sum(
        1 for f in os.listdir(lake.delta_path("perfbench_replay", widest)) if f.endswith(".parquet")
    )
    with tracer.span("EpochLake.read_merged") as sp:
        merged = lake.read_merged(spark, "fetch_log")
        merged.groupBy("url_hash").agg(F.max("epoch")).count()
    m["lake.read_merged_s"] = sp.seconds
    m["lake.files_read"] = len(merged.inputFiles())
    for df in (fetched, children, typed_pages):
        df.unpersist()

    if not schedule:
        return m
    # the schedule layers over the links of the epoch that enqueued most
    richest = max(crawl_epochs, key=lambda m: m["enqueued"])["epoch"]
    inp = _CrawlSchedule(spark, lake, richest, tracer)
    sched, _ = traced_pass(inp, tracer, store)
    sched.pop("trace.pass_s")
    m.update(sched)
    m["seen.build_s"] = inp.build_s
    m["seen.filter_mb"] = inp.filter_mb
    for df in (inp.raw, inp.seen, inp.segments):
        df.unpersist()
    inp.bc.destroy()
    return m


def _epoch_metrics(rnd: Round, out: dict, store: StatusStore) -> dict:
    """Per-epoch wall times from the manifests' commit times, per-epoch job
    counts from the status store."""
    lake = rnd.engine.lake
    commits = {
        m["epoch"]: os.path.getmtime(lake.root / "_manifests" / f"{m['epoch']}.json")
        for m in out["manifests"]
    }
    e1 = rnd.crawl.epochs
    durations, starts = [], []
    for e in sorted(commits):
        start = rnd.crawl_start if e == 0 else rnd.recrawl_start if e == e1 + 1 else commits[e - 1]
        starts.append((start, commits[e]))
        durations.append(commits[e] - start)
    submit = [t for a, b in rnd.run_marks for t in store.job_submit_times(a, b)]
    jobs_per = [sum(1 for t in submit if s <= t < e) for s, e in starts]
    refetched = rnd.recrawl.fetched
    return {
        "epoch_loop.epochs": len(commits),
        "epoch_loop.spark_jobs": len(submit),
        "epoch_loop.jobs_per_epoch": statistics.median(jobs_per),
        "epoch_loop.epoch_median_s": statistics.median(durations),
        "epoch_loop.epoch_max_s": max(durations),
        "epoch_loop.resume_s": commits[e1 + 1] - rnd.recrawl_start,
        "epoch_loop.not_modified": rnd.recrawl.not_modified,
        "epoch_loop.revalidate_ratio": rnd.recrawl.not_modified / refetched if refetched else 0.0,
    }


def run(spark, workload, seed, seconds, trace, work, store, tracer, process_start) -> dict:
    os.makedirs(work)
    inp = CrawlInput(spark, seed, recrawl=trace)
    # The process's first crawl is a warm-up, untimed and counted in
    # setup_s: it starts the Python workers and compiles the epoch loop's
    # plans and hot code, and costs about twice a warm crawl (README: noise).
    t0 = time.perf_counter()
    warm = Round(spark, inp, os.path.join(work, "lake-warm"))
    shutil.rmtree(warm.lake)
    log(f"warm-up crawl {time.perf_counter() - t0:.2f} s, cpu {warm.crawl_cpu:.2f} s, JIT {warm.crawl_jit:.2f} s")
    setup_s = time.perf_counter() - process_start
    log(f"set up at {setup_s:.2f} s")

    res = {"attempted": 0, "failed": 0, "errors": [], "end_to_end": {}, "layers": {}}
    if trace:
        res["layers"] = _traced(spark, inp, work, store, tracer, res)
        return res

    walls, cpus, per_cpu_s, shuffle = [], [], [], []
    t_end = time.perf_counter() + seconds
    while len(walls) < MIN_TIMED_CRAWLS or time.perf_counter() < t_end:
        mark = store.job_mark()
        rnd = Round(spark, inp, os.path.join(work, f"lake-{len(walls)}"))
        shuffle.append(store.stats_since(mark).shuffle_write_mb)
        out = rnd.outputs(spark)
        res["errors"] += rnd.check(inp, out)
        n, f = _fetch_counts(out)
        res["attempted"] += n
        res["failed"] += f
        walls.append(rnd.crawl_wall)
        cpus.append(rnd.crawl_cpu)
        per_cpu_s.append(rnd.crawl.fetched / rnd.crawl_cpu)
        shutil.rmtree(rnd.lake)
    log(f"timed crawls {[round(w, 3) for w in walls]} s, cpu {[round(c, 2) for c in cpus]} s, JIT {round(rnd.crawl_jit, 2)} s")
    res["end_to_end"] = {
        "setup_s": setup_s,
        "urls_per_cpu_s": statistics.median(per_cpu_s),
        "shuffle_write_mb": statistics.median(shuffle),
    }
    return res


# Warm crawls differ by ~10% in CPU time within one process; the median of
# at least two keeps one odd crawl from setting the figure.
MIN_TIMED_CRAWLS = 2


def traced_layers(spark, seed, work, store, tracer, res) -> dict:
    """The crawl's traced round on a fresh site and lake, for the traced run
    of a schedule workload, which reports its own schedule layers."""
    os.makedirs(work)
    return _traced(spark, CrawlInput(spark, seed, recrawl=True), work, store, tracer, res,
                   replay_schedule=False)


def _traced(spark, inp, work, store, tracer, res, replay_schedule=True) -> dict:
    """One traced round (crawl, compact, revalidating recrawl) and the
    replay of the widest epoch's layer calls."""
    mark = store.job_mark()
    spans_before = tracer.overhead_s
    rnd = Round(spark, inp, os.path.join(work, "lake-traced"), True, tracer, store)
    spans_s = tracer.overhead_s - spans_before
    st = store.stats_since(mark)
    out = rnd.outputs(spark)
    res["errors"] += rnd.check(inp, out)
    n, f = _fetch_counts(out)
    res["attempted"] += n
    res["failed"] += f
    layers = _epoch_metrics(rnd, out, store)
    layers.update(session_metrics(st))
    layers["lake.write_mb"] = rnd.crawl_lake_bytes / 1e6
    layers["wall.urls_per_s"] = rnd.crawl.fetched / rnd.crawl_wall
    # What tracing adds to a crawl is the tracer's own bookkeeping and the
    # status-store reads around the engine calls; both are timed directly
    # (the round has no untraced twin in this process to subtract).
    layers["trace.overhead_s"] = spans_s + rnd.mark_s
    layers.update(_replay(spark, rnd, out, tracer, store, replay_schedule))
    return layers
