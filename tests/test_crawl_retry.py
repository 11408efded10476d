"""Fetch-failure retry semantics (operators/retry.py, epoch_loop wiring).

Scrapy's default RetryMiddleware (enabled by the reference — settings.py
never disables the default downloader stack) re-schedules a transiently
failed request up to RETRY_TIMES=2 more times with priority −1, then drops
it.  Here: transient failures recover to the EXACT same final state as a
failure-free crawl; permanent failures are logged status='failed' after
max_retries+1 attempts and their subtree is never parsed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine
from nrsr_crawler_spark.sources.synthetic_site import (
    PAGES_SCHEMA,
    SEED_URL,
    generate_site,
    inject_failures,
    site_rows,
)


def _pages_df(spark, site):
    return spark.createDataFrame(site_rows(site), PAGES_SCHEMA)


def _site():
    return generate_site(periods=1, pages_per_period=2, details_per_page=3, members_per_period=2)


def _final_state(engine):
    log = {
        r.canon_url: (r.status, r.attempt)
        for r in engine.lake.read_merged(
            engine.spark, "fetch_log"
        ).collect()
    }
    seen = {r.canon_url for r in engine.seen_set().collect()}
    members = {
        tuple(r)
        for r in engine.typed_store("member")
        .select("external_id", "period_num", "surname")
        .collect()
    }
    return log, seen, members


def test_transient_failures_recover_to_identical_state(spark, shared_crawl, tmp_path):
    site = _site()
    clean, s0 = shared_crawl(
        _pages_df(spark, site), tmp_path / "clean", [SEED_URL],
        budget_per_host=100, use_bloom=False,
    )
    assert s0.retried == 0 and s0.failed == 0

    flaky_pages = inject_failures(
        _pages_df(spark, site), transient_every=3, transient_times=2
    )
    n_flaky = flaky_pages.filter(F.col("fail_times").isNotNull()).count()
    assert n_flaky > 0, "fixture must plant at least one transient failure"
    flaky = CrawlEngine(
        spark, flaky_pages, str(tmp_path / "flaky"),
        budget_per_host=100, use_bloom=False, max_retries=2,
    )
    s1 = flaky.run([SEED_URL])

    log0, seen0, members0 = _final_state(clean)
    log1, seen1, members1 = _final_state(flaky)
    # transient failures fully recover: same pages fetched, same seen set,
    # same typed stores — and every logged fetch ended 'ok' (the site's
    # javascript: pseudo-hrefs are not links and are never fetched)
    assert seen1 == seen0
    assert set(log1) == set(log0)
    assert members1 == members0
    assert all(st == "ok" for st, _a in log1.values()), sorted(
        u for u, (st, _a) in log1.items() if st != "ok"
    )
    assert {u: v for u, v in log1.items() if v[0] != "ok"} == {
        u: v for u, v in log0.items() if v[0] != "ok"
    }
    # each flaky FETCHED page consumed exactly fail_times retries; attempt
    # in the log is the succeeding attempt index
    from nrsr_crawler_spark.functions.urls import canonicalize_py

    planted = {
        canonicalize_py(r.url): r.fail_times
        for r in flaky_pages.filter(F.col("fail_times").isNotNull()).collect()
    }
    fetched_flaky = [c for c in planted if c in log1]
    assert fetched_flaky, f"no planted URL reached the log: {sorted(planted)[:3]}"
    for c in fetched_flaky:
        assert log1[c] == ("ok", planted[c])
    assert s1.retried == sum(planted[c] for c in fetched_flaky)
    assert s1.failed == 0
    assert s1.fetched == s0.fetched


def test_permanent_failure_gives_up_and_prunes_subtree(spark, tmp_path):
    site = _site()
    # fail a LIST page permanently: its detail children are only reachable
    # through it, so they must never be fetched (subtree pruned)
    list_url = next(u for u, p in site.items() if p.kind == "list")
    dead_pages = inject_failures(
        _pages_df(spark, site), transient_every=10**9,  # no transient noise
        permanent_urls=[list_url],
    )
    engine = CrawlEngine(
        spark, dead_pages, str(tmp_path / "dead"),
        budget_per_host=100, use_bloom=False, max_retries=2,
    )
    stats = engine.run([SEED_URL])
    log = {
        r.canon_url: (r.status, r.attempt)
        for r in engine.lake.read_merged(engine.spark, "fetch_log").collect()
    }
    failed = {c: v for c, v in log.items() if v[0] == "failed"}
    assert len(failed) == 1
    (canon, (st, att)), = failed.items()
    assert list_url.split("?")[0].lower() in canon.lower()
    # RETRY_TIMES=2 ⇒ 3 attempts total; the give-up row records the last
    assert att == 2
    assert stats.failed == 1 and stats.retried == 2
    # children unique to the dead page were never scheduled as fetched 'ok'
    dead_children = set(site[list_url].child_hrefs)
    other_children = {
        h for u, p in site.items() if u != list_url for h in p.child_hrefs
    }
    only_via_dead = dead_children - other_children
    assert only_via_dead, "fixture must have children unique to the dead page"
    for href in only_via_dead:
        frag = href.split("?")[-1].lower()
        assert not any(
            frag in canon.lower() for canon, v in log.items() if v[0] == "ok"
        ), f"child {href} of the failed page was fetched"


def test_no_failures_is_zero_overhead_schema_parity(spark, shared_crawl, tmp_path):
    # pages WITHOUT fail_times: retries disabled, but the fetch_log still
    # carries the (status, attempt) columns with ('ok', 0)
    site = _site()
    engine, _ = shared_crawl(
        _pages_df(spark, site), tmp_path / "plain", [SEED_URL],
        budget_per_host=100, use_bloom=False,
    )
    assert not engine._retries_enabled
    log = engine.lake.read_merged(engine.spark, "fetch_log")
    assert {"status", "attempt"} <= set(log.columns)
    rows = log.select("canon_url", "status", "attempt").collect()
    # every fetch is a real page: the site's javascript: pseudo-hrefs are
    # not links and are never resolved into a fetch
    for r in rows:
        assert (r.status, r.attempt) == ("ok", 0), r.canon_url


def test_missing_page_logged_not_retried(spark, tmp_path):
    """404 path: a link whose page doesn't exist is fetched once, logged
    status='missing' (attempt 0), never re-scheduled (Scrapy default: 404 is
    not in RETRY_HTTP_CODES), and contributes no items."""
    site = _site()
    pages = _pages_df(spark, site)
    # drop one non-seed page row — its URL stays linked from parents
    victim = sorted(u for u in site if u != SEED_URL)[-1]
    holey = pages.filter(F.col("url") != victim)
    assert holey.count() == pages.count() - 1

    eng = CrawlEngine(
        spark, holey, str(tmp_path / "holey"), budget_per_host=100, use_bloom=False
    )
    stats = eng.run([SEED_URL])
    assert stats.retried == 0 and stats.failed == 0

    from nrsr_crawler_spark.functions.urls import canonicalize_py

    log = {
        r.canon_url: (r.status, r.attempt)
        for r in eng.lake.read_merged(eng.spark, "fetch_log").collect()
    }
    vic_canon = canonicalize_py(victim)
    assert log[vic_canon] == ("missing", 0)
    # every other fetch is a real page and stays 'ok'
    assert all(
        st == "ok" for u, (st, _a) in log.items() if u != vic_canon
    ), sorted(u for u, (st, _a) in log.items() if st != "ok")
