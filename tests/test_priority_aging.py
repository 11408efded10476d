"""Frontier priority aging (CrawlEngine(age_priority_every=K)): pending
URLs gain +1 priority per K epochs waited — anti-starvation for the LIFO
pop.  Age derives from the epoch bits packed in ``seq``; default off is
reference parity (pure priority-then-LIFO)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nrsr_crawler_spark.sources.synthetic_site import (
    PAGES_SCHEMA,
    SEED_URL,
    generate_site,
    site_rows,
)


def _run(spark, shared_crawl, tmp_path, name, **kw):
    site = generate_site(periods=2, pages_per_period=2, details_per_page=3, members_per_period=2)
    pages = spark.createDataFrame(site_rows(site), PAGES_SCHEMA)
    eng, stats = shared_crawl(
        pages, tmp_path / name, [SEED_URL], budget_per_host=2, use_bloom=False, **kw
    )
    log = {
        r.canon_url: (r.epoch, r.pop_rank)
        for r in eng.lake.read_all(spark, "fetch_log").collect()
    }
    return stats, log


def test_aging_changes_schedule_not_coverage(spark, shared_crawl, tmp_path):
    s0, log0 = _run(spark, shared_crawl, tmp_path, "plain")
    s1, log1 = _run(spark, shared_crawl, tmp_path, "aged", age_priority_every=1)
    # identical fetch set and epoch-drain guarantees
    assert set(log1) == set(log0)
    assert s1.fetched == s0.fetched
    # the schedule itself differs: with budget 2 and aggressive aging, the
    # longest-waiting URLs overtake the LIFO-favoured deep branch
    assert any(log1[u] != log0[u] for u in log0), "aging must reorder pops"
    # anti-starvation: the LAST url fetched by pure LIFO waits strictly
    # fewer epochs under aging (it aged into an earlier pop)
    last_url = max(log0, key=lambda u: (log0[u][0], log0[u][1]))
    assert log1[last_url][0] <= log0[last_url][0]


def test_aging_off_is_default_parity(spark, shared_crawl, tmp_path):
    s0, log0 = _run(spark, shared_crawl, tmp_path, "a")
    s1, log1 = _run(spark, shared_crawl, tmp_path, "b", age_priority_every=None)
    assert log1 == log0
    assert (s1.epochs, s1.fetched) == (s0.epochs, s0.fetched)


def test_huge_interval_equals_no_aging(spark, shared_crawl, tmp_path):
    # with K far above the epoch count every age term floors to 0 — the
    # schedule must be bit-identical to the unaged run
    s0, log0 = _run(spark, shared_crawl, tmp_path, "k0")
    s1, log1 = _run(spark, shared_crawl, tmp_path, "kbig", age_priority_every=10**6)
    assert log1 == log0
    assert (s1.epochs, s1.fetched) == (s0.epochs, s0.fetched)
