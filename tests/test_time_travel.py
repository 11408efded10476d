"""Snapshot (time-travel) reads — the Iceberg VERSION AS OF stand-in.

Because epochs are deterministic, the lake as-of epoch e must equal the
live state of the same crawl stopped after e+1 epochs — for the typed
stores AND the seen set, including when a compaction base NEWER than the
snapshot exists (the read must fall back to delta history, not serve the
folded base)."""

from __future__ import annotations

from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine
from nrsr_crawler_spark.sources.synthetic_site import (
    PAGES_SCHEMA,
    SEED_URL,
    generate_site,
    site_rows,
)


def _pages(spark):
    site = generate_site(periods=1, pages_per_period=2, details_per_page=3, members_per_period=2)
    return spark.createDataFrame(site_rows(site), PAGES_SCHEMA)


def _crawled(spark, shared_crawl, tmp_path, name, max_epochs=100000, **kw):
    """Engine over a private copy of the seed crawl's lake, stopped after
    ``max_epochs`` epochs (runs shared across tests)."""
    engine, _ = shared_crawl(
        _pages(spark), tmp_path / name, [SEED_URL], max_epochs=max_epochs,
        budget_per_host=100, use_bloom=False, **kw,
    )
    return engine


def _members(engine, as_of=None):
    return {
        tuple(r)
        for r in engine.typed_store("member", as_of=as_of)
        .select("external_id", "period_num", "surname")
        .collect()
    }


def _seen(engine, as_of=None):
    return {r.canon_url for r in engine.seen_set(as_of=as_of).collect()}


def test_snapshot_equals_stopped_crawl(spark, shared_crawl, tmp_path):
    full = _crawled(spark, shared_crawl, tmp_path, "full")
    part = _crawled(spark, shared_crawl, tmp_path, "part", max_epochs=2)
    cut = part.lake.last_committed()
    assert cut < full.lake.last_committed()

    assert _members(full, as_of=cut) == _members(part)
    assert _seen(full, as_of=cut) == _seen(part)
    # and the snapshot is a strict prefix of the final state
    assert _seen(full, as_of=cut) < _seen(full)


def test_snapshot_survives_newer_compaction_base(spark, shared_crawl, tmp_path):
    full = _crawled(spark, shared_crawl, tmp_path, "full", compact_every=1)
    part = _crawled(spark, shared_crawl, tmp_path, "part", max_epochs=2, compact_every=1)
    cut = part.lake.last_committed()
    # a base newer than the snapshot exists — the fallback path is exercised
    assert full.lake.base_upto("frontier") > cut

    assert _members(full, as_of=cut) == _members(part)
    assert _seen(full, as_of=cut) == _seen(part)


def test_typed_store_changes_cdc(spark, shared_crawl, tmp_path):
    """Changelog read: insert-from-void, empty changelog on a no-op
    recrawl (byte-identical re-extract), single 'update' row when the
    source page actually changed."""
    from pyspark.sql import functions as F

    pages = _pages(spark)
    root = str(tmp_path / "cdc")
    eng = _crawled(spark, shared_crawl, tmp_path, "cdc")
    since = eng.lake.last_committed()

    store = eng.typed_store("member")
    n = store.count()
    assert n > 0
    void = eng.typed_store_changes("member", since=-1)
    assert void.count() == n
    assert void.filter(F.col("change") != "insert").count() == 0

    victim = store.select("url").orderBy("url").first().url

    # no-op recrawl: same content → empty changelog
    eng.expire(spark.createDataFrame([(victim,)], "url string"), mode="refetch")
    eng.run()
    assert eng.lake.last_committed() > since
    assert eng.typed_store_changes("member", since).count() == 0

    # content change + recrawl → exactly one 'update' row with the new value
    # (the store's url is canonical; pages carry raw urls — match via canon)
    from nrsr_crawler_spark.functions import urls as U

    since2 = eng.lake.last_committed()
    body_s = F.col("body").cast("string")
    is_victim = U.canonicalize(F.col("url")) == victim
    assert pages.filter(is_victim).count() == 1
    mutated = pages.withColumn(
        "body",
        F.when(
            is_victim,
            F.regexp_replace(body_s, r'class="surname">[^<]*<', 'class="surname">Zmeneny<'),
        ).otherwise(body_s).cast("binary"),
    )
    eng2 = CrawlEngine(spark, mutated, root, budget_per_host=100, use_bloom=False)
    eng2.expire(spark.createDataFrame([(victim,)], "url string"), mode="refetch")
    eng2.run()
    ch = eng2.typed_store_changes("member", since2).collect()
    assert len(ch) == 1
    assert ch[0].change == "update" and ch[0].surname == "Zmeneny" and ch[0].url == victim
    # the live store reflects it too
    assert (
        eng2.typed_store("member").filter(F.col("url") == victim).first().surname
        == "Zmeneny"
    )


def test_snapshot_immune_to_mid_read_compaction_churn(spark, shared_crawl, tmp_path):
    """Round-4 verdict item 8: a LAZILY-PLANNED snapshot read (seen set,
    frontier, typed store) must stay byte-identical when compaction churn
    supersedes the requested epoch between planning and collection —
    compact_every=1 writes a newer base (and GCs older ones) every epoch."""
    part = _crawled(spark, shared_crawl, tmp_path, "part", max_epochs=2, compact_every=1)
    cut = part.lake.last_committed()
    full = _crawled(spark, shared_crawl, tmp_path, "full", max_epochs=2, compact_every=1)
    assert full.lake.last_committed() == cut

    # plan the snapshot reads NOW (lazy DataFrames, nothing collected) …
    seen_df = full.seen_set(as_of=cut)
    member_df = full.typed_store("member", as_of=cut)
    frontier_df = full.lake.read_merged(spark, "frontier", upto=cut)

    # … then let the crawl run on: every epoch compacts, superseding `cut`
    full.run()
    assert full.lake.base_upto("frontier") > cut

    assert {r.canon_url for r in seen_df.collect()} == _seen(part)
    got_members = {
        tuple(r) for r in member_df.select("external_id", "period_num", "surname").collect()
    }
    assert got_members == _members(part)
    # byte-identical: the pre-churn plan equals a fresh post-churn snapshot
    fresh = full.lake.read_merged(spark, "frontier", upto=cut)
    assert frontier_df.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(frontier_df).count() == 0
