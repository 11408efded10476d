"""North-rule gate: the engine must reproduce the reference crawler's exact
crawl ordering and final URL-seen set given the same seeds + politeness
budget (BASELINE.json north_rule; SURVEY §5 item 2)."""

from __future__ import annotations

import pytest

from nrsr_crawler_spark.lake.table import EpochLake
from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine
from nrsr_crawler_spark.plans.replay import certify_order
from nrsr_crawler_spark.sources.synthetic_site import (
    DISALLOWED_PREFIX,
    PAGES_SCHEMA,
    SEED_URL,
    generate_site,
    robots_rules,
    site_rows,
)
from nrsr_crawler_spark.testing.simulator import simulate


def _allow(canon: str) -> bool:
    from urllib.parse import urlsplit

    return not urlsplit(canon).path.startswith(DISALLOWED_PREFIX)


def _pages_df(spark, site):
    return spark.createDataFrame(site_rows(site), PAGES_SCHEMA)


RULES = robots_rules(permissive=False)


def test_exact_mode_matches_golden_order(spark, tmp_path):
    site = generate_site(periods=1, pages_per_period=2, details_per_page=2, members_per_period=2)
    golden = simulate(site, [SEED_URL], allow=_allow)
    engine = CrawlEngine(
        spark, _pages_df(spark, site), str(tmp_path / "lake"), budget_per_host=1,
        robots_rules=RULES, use_bloom=False,
    )
    stats = engine.run([SEED_URL])
    got = [r["canon_url"] for r in engine.fetch_order().collect()]
    exp = [o["canon_url"] for o in golden.order]
    assert got == exp
    assert stats.fetched == len(exp)

    seen = {r["canon_url"] for r in engine.seen_set().collect()}
    assert seen == golden.seen


@pytest.fixture(scope="module")
def bulk(spark, tmp_path_factory):
    site = generate_site(periods=2, pages_per_period=3, details_per_page=4, members_per_period=3)
    golden = simulate(site, [SEED_URL], allow=_allow)
    lake_root = str(tmp_path_factory.mktemp("bulk") / "lake")
    engine = CrawlEngine(
        spark, _pages_df(spark, site), lake_root, budget_per_host=100, robots_rules=RULES
    )
    engine.run([SEED_URL])
    return site, golden, engine


def test_bulk_mode_seen_set_matches(bulk):
    _, golden, engine = bulk
    seen = {r["canon_url"] for r in engine.seen_set().collect()}
    assert seen == golden.seen
    # fetched set = everything admitted (all seen URLs get fetched eventually)
    fetched = {r["canon_url"] for r in engine.fetch_order().collect()}
    assert fetched == golden.seen


def test_bulk_mode_certifies_reference_order(bulk):
    _, golden, engine = bulk
    replayed = certify_order(engine.spark, engine.lake, allow=_allow)
    assert [r["canon_url"] for r in replayed] == [o["canon_url"] for o in golden.order]
    assert [r["url_hash"] for r in replayed] == [o["url_hash"] for o in golden.order]


def test_bulk_hashes_match_simulator(bulk):
    _, golden, engine = bulk
    got = {r["url_hash"] for r in engine.seen_set().collect()}
    exp = {o["url_hash"] for o in golden.order}
    assert got == exp


def test_metrics_emitted(bulk):
    _, _, engine = bulk
    ms = engine.lake.metrics()
    assert ms[0]["kind"] == "seed"
    assert sum(m["popped"] for m in ms) == len(list(engine.fetch_order().collect()))
    assert all({"enqueued", "popped", "items", "edges"} <= set(m) for m in ms)


def test_resume_is_identical(spark, tmp_path):
    site = generate_site(periods=1, pages_per_period=3, details_per_page=3, members_per_period=2)
    pages = _pages_df(spark, site)

    full = CrawlEngine(spark, pages, str(tmp_path / "full"), budget_per_host=50, robots_rules=RULES)
    full.run([SEED_URL])

    # killed after 2 epochs, resumed by a fresh engine instance on the same lake
    part = CrawlEngine(spark, pages, str(tmp_path / "part"), budget_per_host=50, robots_rules=RULES)
    part.run([SEED_URL], max_epochs=2)
    resumed = CrawlEngine(spark, pages, str(tmp_path / "part"), budget_per_host=50, robots_rules=RULES)
    resumed.run()

    for table in ("frontier", "fetch_log", "items", "edges"):
        a = sorted(map(tuple, full.lake.read_all(spark, table).collect()))
        b = sorted(map(tuple, resumed.lake.read_all(spark, table).collect()))
        assert a == b, table


def test_bloom_partitioned_regime_matches_golden(spark, tmp_path):
    """Force the partitioned (cogrouped segment-bitset) Bloom regime by
    setting broadcast_max_keys=0 — the 10^10-scale physical path: build,
    O(delta) OR-merge and cogrouped probe must leave the seen set and the
    certified fetch order exactly as the reference's."""
    site = generate_site(periods=1, pages_per_period=2, details_per_page=2, members_per_period=2)
    golden = simulate(site, [SEED_URL], allow=_allow)
    engine = CrawlEngine(
        spark, _pages_df(spark, site), str(tmp_path / "lake_part"), budget_per_host=100,
        robots_rules=RULES, broadcast_max_keys=0,
    )
    engine.run([SEED_URL])
    assert {r["canon_url"] for r in engine.seen_set().collect()} == golden.seen
    replayed = certify_order(engine.spark, engine.lake, allow=_allow)
    assert [r["canon_url"] for r in replayed] == [o["canon_url"] for o in golden.order]


def _ttl_churn_run(spark, pages, lake_dir):
    """Crawl 2 epochs, tombstone mid-crawl (forget 2 fetched child URLs +
    refetch everything else fetched so far), resume to fixpoint."""
    from pyspark.sql import functions as F

    eng = CrawlEngine(spark, pages, lake_dir, budget_per_host=100, robots_rules=RULES)
    eng.run([SEED_URL], max_epochs=2)
    fetched = eng.lake.read_all(spark, "fetch_log").select("url_hash").distinct()
    # forget victims are picked from EDGE CHILDREN (never the seed): their
    # fetched parent carries a refetch tombstone, so every forgotten URL is
    # re-discovered when the parent re-parses — the final seen set must
    # still equal golden
    children = (
        eng.lake.read_all(spark, "edges")
        .filter(F.col("parent_hash") != F.col("url_hash"))
        .select("url_hash")
        .distinct()
    )
    forget = children.join(fetched, "url_hash").orderBy("url_hash").limit(2)
    refetch = fetched.join(forget, "url_hash", "left_anti")
    assert eng.expire(forget, mode="forget") >= 1
    eng.expire(refetch, mode="refetch")
    eng.run()  # resume to fixpoint through the TTL churn
    return eng


def test_bloom_ttl_expiry_matches_golden(spark, tmp_path):
    """A crawl-to-fixpoint with mid-crawl TTL expiry (forget evictions +
    refetch tombstones): each resume rebuilds the Bloom filter from the
    surviving frontier, and forgotten URLs are re-discovered via their
    refetched parents, so the final seen set still equals the simulator's."""
    site = generate_site(periods=1, pages_per_period=2, details_per_page=3, members_per_period=2)
    golden = simulate(site, [SEED_URL], allow=_allow)
    eng = _ttl_churn_run(spark, _pages_df(spark, site), str(tmp_path / "lake_ttl"))
    assert {r["canon_url"] for r in eng.seen_set().collect()} == golden.seen
