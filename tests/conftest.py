from __future__ import annotations

import hashlib
import shutil

import pytest

from nrsr_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # PySpark's DataFrame debugging records the Python call site on the JVM
    # for every DataFrame/Column API call (several py4j round trips each);
    # the crawl tests make tens of thousands of such calls
    s = get_spark(
        "nrsr-tests", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def shared_crawl(spark, tmp_path_factory):
    """``shared_crawl(pages, lake_root, seeds, max_epochs=..., **engine_kw)`` →
    ``(engine, stats)``: a ``CrawlEngine`` over a private copy of the lake
    that ``CrawlEngine(spark, pages, …, **engine_kw).run(seeds, max_epochs)``
    leaves, and that run's stats.

    The engine is deterministic and keeps all crawl state in its lake, so
    tests that start from the same crawl (same page rows, options, seeds and
    epoch cap) share one run per session; each gets its own copy to go on
    crawling, expiring or compacting.  A fresh engine over a finished lake is
    the resume path, which the golden and resume tests check separately."""
    from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine

    root = tmp_path_factory.mktemp("crawled")
    done: dict[str, tuple[str, object]] = {}

    def crawl(pages, lake_root, seeds, max_epochs=100000, **engine_kw):
        rows = sorted(repr(tuple(r)) for r in pages.collect())
        key = hashlib.sha256(
            repr((pages.schema.simpleString(), rows, sorted(engine_kw.items()),
                  list(seeds), max_epochs)).encode()
        ).hexdigest()[:16]
        if key not in done:
            src = str(root / key)
            stats = CrawlEngine(spark, pages, src, **engine_kw).run(
                list(seeds), max_epochs=max_epochs
            )
            done[key] = (src, stats)
        src, stats = done[key]
        shutil.copytree(src, lake_root)
        return CrawlEngine(spark, pages, str(lake_root), **engine_kw), stats

    return crawl
