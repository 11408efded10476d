"""Recrawl/TTL expiry (CrawlEngine.expire): refetch tombstones re-pop a URL
without re-discovery, forget tombstones evict it until re-discovered, and
tombstone epoch-scoping keeps expiry one-shot (no refetch loops)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nrsr_crawler_spark.sources.synthetic_site import (
    PAGES_SCHEMA,
    SEED_URL,
    generate_site,
    robots_rules,
    site_rows,
)

RULES = robots_rules(permissive=False)


def _crawled(spark, shared_crawl, tmp):
    """(engine, stats) after the seed crawl of the small site — one shared
    run, a private lake copy per test."""
    site = generate_site(periods=1, pages_per_period=2, details_per_page=3, members_per_period=2)
    pages = spark.createDataFrame(site_rows(site), PAGES_SCHEMA)
    return shared_crawl(pages, tmp / "lake", [SEED_URL], budget_per_host=100, robots_rules=RULES)


def _fetch_counts(engine):
    log = engine.lake.read_all(engine.spark, "fetch_log")
    return {r["url_hash"]: r["n"] for r in log.groupBy("url_hash").agg(F.count(F.lit(1)).alias("n")).collect()}


def test_refetch_pops_again_exactly_once(spark, shared_crawl, tmp_path):
    engine, _ = _crawled(spark, shared_crawl, tmp_path)
    log = engine.lake.read_all(spark, "fetch_log")
    victims = log.orderBy("url_hash").limit(3).select("url_hash")
    victim_keys = {r["url_hash"] for r in victims.collect()}

    assert engine.expire(victims, mode="refetch") == 3
    stats2 = engine.run()
    assert stats2.fetched == 3
    counts = _fetch_counts(engine)
    for h, n in counts.items():
        assert n == (2 if h in victim_keys else 1), (h, n)

    # epoch scoping: the tombstone must not re-clear the refetch it caused
    stats3 = engine.run()
    assert stats3.fetched == 0


def test_forget_reenqueues_only_on_rediscovery(spark, shared_crawl, tmp_path):
    engine, _ = _crawled(spark, shared_crawl, tmp_path)
    # pick a fetched child and its fetched parent from the edge lineage
    edges = engine.lake.read_all(spark, "edges")
    log = engine.lake.read_all(spark, "fetch_log").select("url_hash").distinct()
    pair = (
        edges.join(log, "url_hash")  # child was fetched
        .join(log.select(F.col("url_hash").alias("parent_hash")), "parent_hash")
        .filter(F.col("parent_hash") != F.col("url_hash"))
        .orderBy("url_hash")
        .limit(1)
        .collect()[0]
    )
    child, parent = pair["url_hash"], pair["parent_hash"]

    engine.expire(spark.createDataFrame([(child,)], "url_hash long"), mode="forget")
    # forgotten and nothing re-links it -> nothing to do
    assert engine.run().fetched == 0

    # refetch the parent -> child is re-discovered, re-enqueued, re-fetched
    engine.expire(spark.createDataFrame([(parent,)], "url_hash long"), mode="refetch")
    stats = engine.run()
    assert stats.fetched == 2
    counts = _fetch_counts(engine)
    assert counts[child] == 2
    assert counts[parent] == 2


def test_expire_accepts_raw_urls(spark, shared_crawl, tmp_path):
    engine, _ = _crawled(spark, shared_crawl, tmp_path)
    # invalid urls (NULL, garbage) yield no tombstone
    urls = spark.createDataFrame([(SEED_URL,), (None,), ("not a url",)], "url string")
    n = engine.expire(urls, mode="refetch")
    assert n == 1
    assert engine.run().fetched == 1


def test_expire_older_than_full_refresh(spark, shared_crawl, tmp_path):
    engine, stats1 = _crawled(spark, shared_crawl, tmp_path)
    n = engine.expire_older_than(0)  # everything is "old enough"
    assert n == stats1.fetched
    stats2 = engine.run()
    assert stats2.fetched == stats1.fetched
    assert all(c == 2 for c in _fetch_counts(engine).values())
