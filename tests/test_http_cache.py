"""HTTP-cache revalidation (CrawlEngine http_cache=True): an unchanged
refetched page is a 304 — logged status='not_modified', no re-parse, no
re-extraction; changed content re-parses normally.  The reference configures
HTTPCACHE_STORAGE (settings.py:115) with the cache switch at Scrapy's
default OFF, which is this engine's default too."""

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


def _rows():
    site = generate_site(
        periods=1, pages_per_period=2, details_per_page=3, members_per_period=2
    )
    return site_rows(site)


def _engine(spark, tmp, rows, **kw):
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    return CrawlEngine(
        spark, pages, str(tmp / "lake"), budget_per_host=100,
        robots_rules=RULES, http_cache=True, **kw
    )


def test_unchanged_refetch_is_not_modified(spark, tmp_path):
    rows = _rows()
    engine = _engine(spark, tmp_path, rows)
    stats1 = engine.run([SEED_URL])
    assert stats1.not_modified == 0  # first fetches have no prior validator
    assert stats1.items > 0

    log = engine.lake.read_all(spark, "fetch_log")
    victims = log.filter(F.col("status") == "ok").orderBy("url_hash").limit(3).select("url_hash")
    victim_keys = {r["url_hash"] for r in victims.collect()}
    assert engine.expire(victims, mode="refetch") == 3

    stats2 = engine.run()
    assert stats2.fetched == 3
    # static page table → every refetch revalidates: 304 across the board
    assert stats2.not_modified == 3
    # and nothing re-extracts or re-links
    assert stats2.items == 0 and stats2.enqueued == 0
    log2 = engine.lake.read_all(spark, "fetch_log")
    nm = {
        r["url_hash"]
        for r in log2.filter(F.col("status") == "not_modified").collect()
    }
    assert nm == victim_keys
    # every logged successful fetch carries its validator
    assert log2.filter(
        (F.col("status").isin("ok", "not_modified")) & F.col("content_hash").isNull()
    ).count() == 0


def test_changed_content_reparses(spark, tmp_path):
    rows = _rows()
    engine = _engine(spark, tmp_path, rows)
    engine.run([SEED_URL])

    # pick a fetched page and change its body; a NEW engine over the SAME
    # lake simulates the next scheduled crawl seeing updated content
    log = engine.lake.read_all(spark, "fetch_log")
    ok_urls = {
        r["canon_url"] for r in log.filter(F.col("status") == "ok").collect()
    }
    victim_url = next(u for (u, *_rest) in (r for r in rows) if u in ok_urls)
    changed_rows = [
        (u, k, p, (bytes(b, "utf-8") if isinstance(b, str) else bytes(b)) + b"<!-- v2 -->", c, pl, i)
        if u == victim_url
        else (u, k, p, b, c, pl, i)
        for (u, k, p, b, c, pl, i) in rows
    ]
    engine2 = _engine(spark, tmp_path, changed_rows)

    hashes = (
        log.filter(F.col("canon_url") == victim_url).select("url_hash").distinct()
    )
    assert engine2.expire(hashes, mode="refetch") == 1
    stats = engine2.run()
    assert stats.fetched == 1
    assert stats.not_modified == 0  # content changed → full re-parse
    last_epoch = engine2.lake.last_committed()
    row = (
        engine2.lake.read_all(spark, "fetch_log")
        .filter(F.col("epoch") == last_epoch)
        .collect()
    )
    assert len(row) == 1 and row[0]["status"] == "ok"


def test_cache_off_reparses_by_default(spark, shared_crawl, tmp_path):
    rows = _rows()
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    engine, _ = shared_crawl(
        pages, tmp_path / "lake", [SEED_URL], budget_per_host=100, robots_rules=RULES
    )
    log = engine.lake.read_all(spark, "fetch_log")
    victims = log.filter(F.col("status") == "ok").orderBy("url_hash").limit(2).select("url_hash")
    engine.expire(victims, mode="refetch")
    stats = engine.run()
    assert stats.fetched == 2 and stats.not_modified == 0
    # default parity: the refetch re-parses (items re-extracted)
    assert stats.items > 0
