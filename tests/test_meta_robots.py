"""Page-level <meta name="robots"> directives (CrawlEngine(meta_robots=True)):
nofollow pages contribute no children, noindex pages contribute no items;
default off = reference parity (Scrapy 1.5 ignores meta robots)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nrsr_crawler_spark.functions.urls import canonicalize_py
from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine
from nrsr_crawler_spark.sources.synthetic_site import (
    PAGES_SCHEMA,
    SEED_URL,
    generate_site,
    site_rows,
)


def _site():
    return generate_site(periods=1, pages_per_period=2, details_per_page=3, members_per_period=2)


def _pages(spark, site):
    return spark.createDataFrame(site_rows(site), PAGES_SCHEMA)


def _inject_meta(pages, url: str, content: str):
    tag = f'<meta name="robots" content="{content}">'
    return pages.withColumn(
        "body",
        F.when(
            F.col("url") == url,
            F.concat(F.lit(tag.encode()), F.col("body").cast("binary")),
        ).otherwise(F.col("body")),
    )


def _log(engine):
    return {
        r.canon_url: r.status
        for r in engine.lake.read_merged(engine.spark, "fetch_log").collect()
    }


def test_nofollow_prunes_subtree(spark, tmp_path):
    site = _site()
    list_url = next(u for u, p in site.items() if p.kind == "list")
    pages = _inject_meta(_pages(spark, site), list_url, "nofollow")
    eng = CrawlEngine(
        spark, pages, str(tmp_path / "nf"), budget_per_host=100,
        use_bloom=False, meta_robots=True,
    )
    eng.run([SEED_URL])
    log = _log(eng)
    # the nofollow page itself IS fetched (and indexed) ...
    assert log[canonicalize_py(list_url)] == "ok"
    # ... but children reachable only through it are never scheduled
    only_via = set(site[list_url].child_hrefs) - {
        h for u, p in site.items() if u != list_url for h in p.child_hrefs
    }
    assert only_via, "fixture must have children unique to the nofollow page"
    for href in only_via:
        frag = href.split("?")[-1].lower()
        assert not any(frag in c.lower() for c in log), href


def test_noindex_drops_items_keeps_children(spark, tmp_path):
    site = _site()
    # noindex a member detail page: it must be fetched and its children
    # followed, but its typed member row must not land in the store
    victim = next(u for u, p in site.items() if p.kind == "detail_member")
    pages = _inject_meta(_pages(spark, site), victim, "noindex")
    eng = CrawlEngine(
        spark, pages, str(tmp_path / "ni"), budget_per_host=100,
        use_bloom=False, meta_robots=True,
    )
    eng.run([SEED_URL])
    baseline = CrawlEngine(
        spark, _pages(spark, site), str(tmp_path / "base"), budget_per_host=100,
        use_bloom=False, meta_robots=True,
    )
    baseline.run([SEED_URL])
    # same fetch set (noindex never gates scheduling)
    assert set(_log(eng)) == set(_log(baseline))
    m1 = {r.external_id for r in eng.typed_store("member").collect()}
    m0 = {r.external_id for r in baseline.typed_store("member").collect()}
    assert len(m0) - len(m1) == 1  # exactly the noindexed member is absent


def test_default_off_matches_reference_semantics(spark, shared_crawl, tmp_path):
    site = _site()
    list_url = next(u for u, p in site.items() if p.kind == "list")
    pages = _inject_meta(_pages(spark, site), list_url, "noindex, nofollow")
    # meta_robots left False → directives ignored, crawl identical to clean
    tagged = CrawlEngine(spark, pages, str(tmp_path / "off"), budget_per_host=100, use_bloom=False)
    s1 = tagged.run([SEED_URL])
    clean, s0 = shared_crawl(
        _pages(spark, site), tmp_path / "cl", [SEED_URL], budget_per_host=100, use_bloom=False
    )
    assert s1.fetched == s0.fetched
    assert set(_log(tagged)) == set(_log(clean))
