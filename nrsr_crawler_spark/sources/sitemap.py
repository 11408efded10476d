"""Sitemap source: seed the frontier from sitemap.xml documents.

The reference crawler seeds from hand-listed listing pages
(/root/reference/nrsr/spiders/*.py start_requests); a web-scale frontier
also ingests the standard sitemap protocol (sitemaps.org — public spec):
``<urlset><url><loc>…</loc><lastmod>…</lastmod></url>…</urlset>``, because
sitemaps are the cheapest discovery channel a polite crawler has (one fetch
yields up to 50k URLs with freshness hints).

Parsing is pure JVM column expressions — ``regexp_extract_all`` over the
page body, one row per ``<url>`` block — so sitemap ingestion scales like
any other map stage: no Python, no shuffle until the frontier dedup the
candidates feed into.  ``lastmod`` becomes a freshness priority (days since
epoch: newer content pops first under the priority-DESC pop order), which
is the standard recrawl-scheduling use of the field.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nrsr_crawler_spark.functions import urls as U

# (?s): sitemap files are pretty-printed multi-line XML; namespace attrs and
# whitespace inside tags are benign noise the block regex must tolerate
_URL_BLOCK = r"(?s)<url\s*>(.*?)</url>"
_LOC = r"(?s)<loc>\s*(.*?)\s*</loc>"
_LASTMOD = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"


def parse_sitemap(
    pages: DataFrame, body_col: str = "body", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One row per ``<url>`` entry across all sitemap bodies:
    (``loc`` string, ``lastmod`` date — NULL when absent/unparseable,
    *keep_cols carried from the source row).  Entry order within a body is
    preserved into ``entry_idx`` (0-based) for deterministic downstream
    tiebreaks."""
    text = F.col(body_col).cast("string")
    blocks = F.regexp_extract_all(text, F.lit(_URL_BLOCK), F.lit(1))
    exploded = pages.select(
        *[F.col(c) for c in keep_cols], F.posexplode(blocks).alias("entry_idx", "__block")
    )
    loc = F.regexp_extract(F.col("__block"), _LOC, 1)
    lastmod = F.regexp_extract(F.col("__block"), _LASTMOD, 1)
    return exploded.select(
        *[F.col(c) for c in keep_cols],
        "entry_idx",
        F.nullif(loc, F.lit("")).alias("loc"),
        F.try_to_timestamp(F.nullif(lastmod, F.lit(""))).cast("date").alias("lastmod"),
    ).filter(F.col("loc").isNotNull())


def freshness_priority(lastmod: Column) -> Column:
    """Priority from the freshness hint: days since 1970-01-01 (newer ⇒
    larger ⇒ pops first under priority-DESC), -1 when the sitemap gave no
    ``lastmod`` — dated entries beat undated ones, and among dated entries
    recency wins.  Integer-exact, engine-portable."""
    return F.coalesce(
        F.datediff(lastmod, F.to_date(F.lit("1970-01-01"))), F.lit(-1)
    ).cast("int")


def sitemap_candidates(pages: DataFrame, body_col: str = "body") -> DataFrame:
    """Frontier-ready candidates from sitemap pages: parse → canonicalize →
    fingerprint → latest-lastmod per canonical URL (a URL listed in many
    sitemaps keeps its freshest hint).  Output: (url_hash, canon_url, host,
    lastmod, priority) — one row per distinct canonical URL, ready for the
    seen-set anti-join + politeness pop."""
    entries = parse_sitemap(pages, body_col=body_col)
    prepared = U.with_canon(entries, url_col="loc", hash_col="url_hash")
    return (
        prepared.groupBy("url_hash")
        .agg(
            F.min("canon_url").alias("canon_url"),
            F.min("host").alias("host"),
            F.max("lastmod").alias("lastmod"),
        )
        # invalid locs collapse into the xxhash64(NULL) group: drop it after
        # the aggregation, where the filter cannot reach with_canon
        .filter(F.col("canon_url").isNotNull())
        .withColumn("priority", freshness_priority(F.col("lastmod")))
    )


# sitemap INDEX files list child sitemaps instead of pages:
# <sitemapindex><sitemap><loc>…</loc></sitemap>…</sitemapindex>
_INDEX_BLOCK = r"(?s)<sitemap\s*>(.*?)</sitemap>"


def parse_sitemap_index(
    pages: DataFrame, body_col: str = "body", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One row per child sitemap listed in a sitemap-index document:
    (``loc``, ``lastmod``, ``entry_idx``).  Feed the locs back through the
    fetch stage and the resulting bodies through :func:`parse_sitemap` —
    the standard protocol's one level of recursion (an index must not list
    another index), so two fetch rounds enumerate any compliant tree."""
    text = F.col(body_col).cast("string")
    blocks = F.regexp_extract_all(text, F.lit(_INDEX_BLOCK), F.lit(1))
    exploded = pages.select(
        *[F.col(c) for c in keep_cols], F.posexplode(blocks).alias("entry_idx", "__block")
    )
    loc = F.regexp_extract(F.col("__block"), _LOC, 1)
    lastmod = F.regexp_extract(F.col("__block"), _LASTMOD, 1)
    return exploded.select(
        *[F.col(c) for c in keep_cols],
        "entry_idx",
        F.nullif(loc, F.lit("")).alias("loc"),
        F.try_to_timestamp(F.nullif(lastmod, F.lit(""))).cast("date").alias("lastmod"),
    ).filter(F.col("loc").isNotNull())


def sitemaps_from_robots(
    robots_pages: DataFrame, body_col: str = "body", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Sitemap discovery from robots.txt ``Sitemap:`` lines (REP extension,
    sitemaps.org §submission): one row per declared sitemap URL.  The line
    is user-agent-independent per the spec, so no UA matching applies."""
    text = F.col(body_col).cast("string")
    locs = F.regexp_extract_all(
        text, F.lit(r"(?im)^\s*sitemap\s*:\s*(\S+)\s*$"), F.lit(1)
    )
    return robots_pages.select(
        *[F.col(c) for c in keep_cols],
        F.posexplode(locs).alias("entry_idx", "loc"),
    )
