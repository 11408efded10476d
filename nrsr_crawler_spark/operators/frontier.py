"""Frontier maintenance ops: candidate preparation + URL-seen dedup
(SURVEY §2.3 J4 — the Spark-native dupefilter replacing
``SplashAwareDupeFilter`` at /root/reference/nrsr/settings.py:114).

Pipeline per epoch:  candidates → canonicalize → fingerprint → drop
invalid → in-batch exact dedup (first scheduler wins, i.e. lowest seq) →
anti-join against the cross-epoch seen set (optionally bloom-pruned,
operators/seen.py) → enqueue.

All pure column expressions + one aggregation on ``url_hash`` (well
distributed, no skew) + one anti-join whose probe side has been shrunk by
the bloom prefilter — the shape that scales to 10^10 URLs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nrsr_crawler_spark.functions import urls as U


def prepare_candidates(raw: DataFrame, url_col: str = "url", seq_col: str = "seq") -> DataFrame:
    """Canonicalize + fingerprint candidate URLs and dedupe within the batch.

    Invalid URLs (canon NULL — e.g. garbage hrefs) are dropped: xxhash64(NULL)
    degenerates to the seed constant, so they must never reach dedup.
    First-writer-wins within the batch: the row with the lowest ``seq`` keeps
    the URL (matches the sequential dupefilter admitting the first request).
    Carries through all other columns of ``raw`` (lineage/meta, SURVEY §2.3 J5).
    """
    meta_cols = [c for c in raw.columns if c not in (url_col,)]
    prepared = U.with_canon(raw, url_col=url_col, hash_col="url_hash")
    # exact in-batch dedup: min-seq row per fingerprint, via struct-min
    # (single shuffle on url_hash; no window needed)
    payload = F.struct(F.col(seq_col).alias("__seq"), *[F.col(c) for c in meta_cols if c != seq_col], F.col("canon_url"), F.col("host"))
    winners = (
        prepared.groupBy("url_hash")
        .agg(F.min(payload).alias("w"))
        .select(
            "url_hash",
            F.col("w.__seq").alias(seq_col),
            *[F.col(f"w.{c}").alias(c) for c in meta_cols if c != seq_col],
            F.col("w.canon_url").alias("canon_url"),
            F.col("w.host").alias("host"),
        )
    )
    # Invalid URLs (canon NULL) all hash to xxhash64(NULL) == the seed and
    # collapse into ONE group; dropping them *after* the agg keeps the filter
    # off the hot map side — a pre-agg filter on canon_url forces Catalyst to
    # push the predicate below the projection and re-evaluate the whole canon
    # expression per row (measured 2× the canon cost at sf0.1).
    return winners.filter(F.col("canon_url").isNotNull())


def prepare_candidates_slim(
    raw: DataFrame, url_col: str = "url", seq_col: str = "seq"
) -> DataFrame:
    """:func:`prepare_candidates` with NO URL strings through the dedup
    exchange (VERDICT r2 next #2 — shuffled bytes/URL is the lever that
    scales): the groupBy payload is (seq, meta..., host) ≈ 30 B/row instead
    of carrying ``canon_url`` ≈ 100+ B.  The caller re-derives the canonical
    URL map-side AFTER the budget-bounded pop and rejoins it by
    ``(url_hash, seq)`` — see :func:`rejoin_urls`.

    Winner identity: (url_hash, min seq) — the same winner
    :func:`prepare_candidates` picks.  Exact duplicate raw rows (same url,
    same seq — real frontiers contain them; even the driver's testdata
    lineitem does) collapse in this groupBy and are re-collapsed by the
    bounded agg in :func:`rejoin_urls`, so the pair is duplicate-safe
    end to end."""
    meta_cols = [c for c in raw.columns if c not in (url_col, seq_col)]
    prepared = U.with_canon(raw, url_col=url_col, hash_col="url_hash").drop(
        url_col, "canon_url"
    )
    payload = F.struct(
        F.col(seq_col).alias("__seq"), *[F.col(c) for c in meta_cols], F.col("host")
    )
    winners = (
        prepared.groupBy("url_hash")
        .agg(F.min(payload).alias("w"))
        .select(
            "url_hash",
            F.col("w.__seq").alias(seq_col),
            *[F.col(f"w.{c}").alias(c) for c in meta_cols],
            F.col("w.host").alias("host"),
        )
    )
    # canon NULL ⇒ host NULL, and invalid rows collapse into the xxhash64(NULL)
    # group — same post-agg validity filter as prepare_candidates
    return winners.filter(F.col("host").isNotNull())


def rejoin_urls(
    popped: DataFrame, raw: DataFrame, url_col: str = "url", seq_col: str = "seq"
) -> DataFrame:
    """Recover the canonical URL for a budget-bounded popped set: recompute
    the canon MAP-SIDE over the few ``raw`` rows that can match and
    broadcast-join the popped keys onto them — URL strings never shuffle at
    frontier scale.

    Shape: a ``left_semi`` broadcast join keeps the raw rows whose ``seq``
    is popped (a plain long equality), so the canon runs on O(budget ·
    seq-dup-factor) rows, not O(frontier).  A groupBy on (url_hash, seq)
    collapses exact duplicate raw rows (same url + same seq occurs in real
    frontiers); its exchange carries canon_url but is bounded by the popped
    set.  An inner broadcast join with ``popped`` on the aggregated
    (url_hash, seq) then keeps the exact winners — two URLs that share a
    ``seq`` differ in hash, and invalid urls (canon NULL) sit in the
    xxhash64(NULL) group — and carries the other ``popped`` columns.  Both
    joins have plain-column keys: a hash comparison above the canon would be
    pushed into the join and canonicalize every raw row again, inlined (see
    ``urls.with_canon``).  ``popped`` must not carry a ``canon_url`` column."""
    carry = [c for c in popped.columns if c not in ("url_hash", seq_col)]
    hit = raw.join(F.broadcast(popped.select(seq_col)), seq_col, "left_semi")
    canon = (
        U.with_canon(hit, url_col=url_col, hash_col="url_hash")
        .groupBy("url_hash", seq_col)
        .agg(F.min("canon_url").alias("canon_url"))
    )
    return canon.join(F.broadcast(popped), ["url_hash", seq_col]).select(
        "url_hash", seq_col, "canon_url", *carry
    )


def prepare_in_batch(candidates: DataFrame, seq_col: str = "seq") -> DataFrame:
    """In-batch exact dedup for candidates that already carry url_hash:
    keep the first-scheduled row (min ``seq``, deterministic tiebreak over the
    remaining columns) per fingerprint.  One shuffle on url_hash."""
    other = [c for c in candidates.columns if c not in ("url_hash", seq_col)]
    payload = F.struct(F.col(seq_col).alias("__seq"), *[F.col(c) for c in other])
    return (
        candidates.groupBy("url_hash")
        .agg(F.min(payload).alias("w"))
        .select(
            "url_hash",
            F.col("w.__seq").alias(seq_col),
            *[F.col(f"w.{c}").alias(c) for c in other],
        )
    )


def dedup_against_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Cross-epoch J4: drop candidates whose fingerprint is already seen.

    ``seen`` needs a ``url_hash`` column.  At scale, call
    ``seen_filter.bloom_prune`` first so this anti-join only sees
    maybe-positive rows (operators/seen.py)."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
