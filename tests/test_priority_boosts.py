"""Rank-informed crawl ordering: set_priority_boosts changes pop order
without changing the fetch set; pagerank_boosts derives integer authority
boosts from the crawl's own edge lineage."""

from __future__ import annotations

from pyspark.sql import functions as F

from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine
from nrsr_crawler_spark.sources.synthetic_site import PAGES_SCHEMA


def _leaf_engine(spark, tmp_path, name):
    leaf_rows = [
        (f"https://www.nrsr.sk/web/d.aspx?ID={i}", "leaf", 7, b"<html>x</html>", None, None, None)
        for i in range(6)
    ]
    pages = spark.createDataFrame(leaf_rows, PAGES_SCHEMA)
    return CrawlEngine(
        spark,
        pages,
        str(tmp_path / name),
        budget_per_host=2,
        num_salts=4,
        n_segments=4,
        typed_items=False,
    )


def test_boosts_reorder_pops_not_fetch_set(spark, tmp_path):
    from nrsr_crawler_spark.functions import urls as U

    seeds = [f"https://www.nrsr.sk/web/d.aspx?ID={i}" for i in range(6)]
    # all base priorities are 0, so a +10 boost on two URLs must make them
    # fill the budget-2 first pop exactly, whatever their LIFO seq order
    boosted = seeds[:2]
    eng = _leaf_engine(spark, tmp_path, "boosted")
    hash_of = {
        r.url: r.h
        for r in spark.createDataFrame([(s,) for s in seeds], "url string")
        .select("url", U.url_hash(U.canonicalize(F.col("url"))).alias("h"))
        .collect()
    }
    boosts = spark.createDataFrame(
        [(hash_of[u], 10) for u in boosted], "url_hash long, boost long"
    )
    eng.set_priority_boosts(boosts)
    eng.run(seeds)

    log = eng.lake.read_all(spark, "fetch_log")
    ep = {r.url_hash: r.epoch for r in log.select("url_hash", "epoch").collect()}
    # all 6 fetched, boosted pair fills the first pop epoch exactly
    assert len(ep) == 6
    first_epoch = min(ep.values())
    assert {h for h, e in ep.items() if e == first_epoch} == {hash_of[u] for u in boosted}

    # same fetch SET as the un-boosted engine
    plain = _leaf_engine(spark, tmp_path, "plain")
    plain.run(seeds)
    plain_log = plain.lake.read_all(spark, "fetch_log").select("url_hash")
    assert plain_log.exceptAll(log.select("url_hash")).count() == 0
    assert log.select("url_hash").exceptAll(plain_log).count() == 0


def test_pagerank_boosts_from_crawl_edges(spark, shared_crawl, tmp_path):
    from nrsr_crawler_spark.sources.synthetic_site import SEED_URL, generate_site, site_rows

    site = generate_site(periods=2, pages_per_period=2, details_per_page=3, members_per_period=3)
    pages = spark.createDataFrame(site_rows(site), PAGES_SCHEMA)
    eng, _ = shared_crawl(
        pages, tmp_path / "lake", [SEED_URL], budget_per_host=100, typed_items=False
    )
    boosts = eng.pagerank_boosts(scale=100)
    rows = boosts.collect()
    assert rows and all(r.boost >= 0 for r in rows)
    # rank·N/S averages 1 ⇒ boost averages ≈ scale (integer truncation pulls
    # it slightly below); a hub must sit above the mean
    mean = sum(r.boost for r in rows) / len(rows)
    assert 50 <= mean <= 100
    assert max(r.boost for r in rows) > mean
    # deterministic: second computation identical
    again = {(r.url_hash, r.boost) for r in eng.pagerank_boosts(scale=100).collect()}
    assert again == {(r.url_hash, r.boost) for r in rows}


def test_yield_boosts_prefer_item_bearing_templates(spark, shared_crawl, tmp_path):
    """Focused-crawl value ordering: templates whose fetched pages produced
    items boost above templates that produced none."""
    from nrsr_crawler_spark.sources.synthetic_site import SEED_URL, generate_site, site_rows

    site = generate_site(periods=2, pages_per_period=2, details_per_page=3, members_per_period=3)
    pages = spark.createDataFrame(site_rows(site), PAGES_SCHEMA)
    eng, _ = shared_crawl(
        pages, tmp_path / "lake", [SEED_URL], budget_per_host=100, typed_items=False
    )

    boosts = eng.yield_boosts(scale=100)
    rows = boosts.collect()
    assert rows and all(r.boost > 0 for r in rows)
    # item-bearing pages (payload items logged in the items table) must be
    # boosted; pages of barren templates must not appear
    items = eng.lake.read_all(spark, "items").select("url_hash").distinct()
    boosted = {r.url_hash for r in rows}
    item_urls = {r.url_hash for r in items.collect()}
    assert item_urls <= boosted  # every item-bearing URL inherits its template's boost
    fetched = {
        r.url_hash
        for r in eng.lake.read_all(spark, "fetch_log").select("url_hash").collect()
    }
    barren_fetched = fetched - item_urls
    # the seed/listing templates yielded nothing — they must not be boosted
    # (unless they share a template with item pages, which this site doesn't)
    assert barren_fetched & boosted == set()
    # deterministic
    again = {(r.url_hash, r.boost) for r in eng.yield_boosts(scale=100).collect()}
    assert again == {(r.url_hash, r.boost) for r in rows}
