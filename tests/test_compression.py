"""Content-encoding middleware parity (sources/compression.py).

A crawl over a site whose bodies are served gzip/deflate-compressed must
produce bit-identical state to the plain-bodied crawl — the inflate happens
once at the source boundary (CrawlEngine.__init__), never in the hot loop.
"""

from __future__ import annotations

import gzip
import zlib

import pytest
from pyspark.sql import functions as F

from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine
from nrsr_crawler_spark.sources import compression as C
from nrsr_crawler_spark.sources.synthetic_site import (
    PAGES_SCHEMA,
    SEED_URL,
    generate_site,
    site_rows,
)


def test_inflate_one_roundtrips():
    raw = b"<html>hello &amp; goodbye</html>" * 10
    assert C._inflate_one(gzip.compress(raw, mtime=0), "gzip") == raw
    assert C._inflate_one(zlib.compress(raw), "deflate") == raw
    # raw-deflate servers (no zlib wrapper) — Scrapy tolerates these too
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    assert C._inflate_one(co.compress(raw) + co.flush(), "deflate") == raw
    assert C._inflate_one(raw, "identity") == raw
    assert C._inflate_one(raw, None) == raw
    assert C._inflate_one(None, "gzip") is None
    with pytest.raises(ValueError):
        C._inflate_one(raw, "br")


def _state(engine):
    log = {
        (r.canon_url, r.status, r.attempt)
        for r in engine.lake.read_merged(engine.spark, "fetch_log").collect()
    }
    members = {
        tuple(r)
        for r in engine.typed_store("member")
        .select("external_id", "period_num", "surname")
        .collect()
    }
    seen = {r.canon_url for r in engine.seen_set().collect()}
    return log, members, seen


def test_compressed_crawl_is_bit_identical(spark, shared_crawl, tmp_path):
    site = generate_site(periods=1, pages_per_period=2, details_per_page=3, members_per_period=2)
    pages = spark.createDataFrame(site_rows(site), PAGES_SCHEMA)

    plain, s_plain = shared_crawl(
        pages, tmp_path / "plain", [SEED_URL], budget_per_host=100, use_bloom=False
    )
    assert s_plain.fetched > 10

    enc = (
        F.when(F.pmod(F.xxhash64("url"), F.lit(3)) == 0, F.lit("gzip"))
        .when(F.pmod(F.xxhash64("url"), F.lit(3)) == 1, F.lit("deflate"))
        .otherwise(F.lit("identity"))
    )
    served = C.with_encoding(pages, enc)
    assert "content_encoding" in served.columns
    # at least one body actually changed on the wire
    changed = (
        served.alias("s")
        .join(pages.alias("p"), "url")
        .filter(F.col("s.body") != F.col("p.body"))
        .count()
    )
    assert changed > 0

    comp = CrawlEngine(spark, served, str(tmp_path / "comp"), budget_per_host=100, use_bloom=False)
    s_comp = comp.run([SEED_URL])

    assert (s_comp.fetched, s_comp.enqueued, s_comp.items) == (
        s_plain.fetched,
        s_plain.enqueued,
        s_plain.items,
    )
    assert _state(comp) == _state(plain)
