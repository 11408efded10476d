"""Merge-on-read compaction (VERDICT r2 #2/#4): compact() rewrites a
latest-per-key base so typed_store / run()-start / TTL reads touch
O(base + tail) files instead of O(epoch count), with every logical view —
typed stores, seen set, fetch order, tombstone semantics — byte-identical."""

from __future__ import annotations

from pyspark.sql import functions as F

from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine
from nrsr_crawler_spark.sources.synthetic_site import (
    PAGES_SCHEMA,
    SEED_URL,
    generate_site,
    robots_rules,
    site_rows,
)

RULES = robots_rules(permissive=False)


def _pages(spark):
    site = generate_site(periods=1, pages_per_period=2, details_per_page=3, members_per_period=2)
    return spark.createDataFrame(site_rows(site), PAGES_SCHEMA)


def _views(engine):
    return {
        "press": sorted(map(repr, engine.typed_store("press").collect())),
        "member": sorted(map(repr, engine.typed_store("member").collect())),
        "voting": sorted(map(repr, engine.typed_store("voting").collect())),
        "seen": sorted(r["url_hash"] for r in engine.seen_set().collect()),
        "order": [r["canon_url"] for r in engine.fetch_order().collect()],
    }


def test_compaction_preserves_views_and_bounds_reads(spark, shared_crawl, tmp_path):
    pages = _pages(spark)
    # small budget → many epochs → many delta dirs to compact
    engine, _ = shared_crawl(pages, tmp_path / "lake", [SEED_URL], budget_per_host=3,
                        robots_rules=RULES, compact_every=0)
    assert engine.lake.last_committed() > 2

    before = _views(engine)
    files_before = len(engine.lake.read_merged(spark, "fetch_log").inputFiles())
    engine.compact()
    after = _views(engine)
    assert before == after

    # reads now touch O(base) files, not O(epochs) delta dirs
    files_after = len(engine.lake.read_merged(spark, "fetch_log").inputFiles())
    assert files_after < files_before
    assert engine.lake.base_upto("fetch_log") == engine.lake.last_committed()
    assert engine.lake.base_upto("items_press") == engine.lake.last_committed()
    # full history still available for order certification
    assert len(engine.lake.read_all(spark, "fetch_log").inputFiles()) == files_before

    # a fresh engine resuming from the compacted lake: fixpoint reached, no refetch
    resumed = CrawlEngine(spark, pages, str(tmp_path / "lake"), budget_per_host=3,
                          robots_rules=RULES, compact_every=0)
    assert resumed.run().fetched == 0


def test_tombstones_apply_identically_over_compacted_base(spark, tmp_path):
    pages = _pages(spark)
    engine = CrawlEngine(spark, pages, str(tmp_path / "lake"), budget_per_host=100,
                         robots_rules=RULES, compact_every=0)
    stats1 = engine.run([SEED_URL])
    engine.compact()

    # refetch over the compacted base: everything re-pops exactly once
    n = engine.expire_older_than(0, mode="refetch")
    assert n == stats1.fetched
    assert engine.run().fetched == stats1.fetched
    # epoch scoping survives compaction: tombstone doesn't re-clear its refetch
    engine.compact()
    assert engine.run().fetched == 0

    log = engine.lake.read_all(spark, "fetch_log")
    counts = [r["n"] for r in log.groupBy("url_hash").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert all(c == 2 for c in counts)


def test_periodic_compaction_inside_run(spark, shared_crawl, tmp_path):
    pages = _pages(spark)
    engine = CrawlEngine(spark, pages, str(tmp_path / "lake"), budget_per_host=3,
                         robots_rules=RULES, compact_every=2)
    engine.run([SEED_URL])
    # run() compacted on the way: a base exists and the views are intact
    assert engine.lake.base_upto("fetch_log") >= 2
    uncompacted, _ = shared_crawl(pages, tmp_path / "lake2", [SEED_URL], budget_per_host=3,
                             robots_rules=RULES, compact_every=0)
    assert _views(engine) == _views(uncompacted)
