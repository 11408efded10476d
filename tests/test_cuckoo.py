"""Cuckoo seen-set invariants (SURVEY §2.10 pluggable dedup, third regime):
zero false negatives (including past capacity, via the stash), bounded
false-positive rate, end-to-end dedup == exact dedup, and the capability
Bloom lacks — deletion."""

from __future__ import annotations

from pyspark.sql import functions as F

from nrsr_crawler_spark.operators import cuckoo as C


def _hashes(spark, lo, hi, tag=""):
    return spark.range(lo, hi).select(
        F.xxhash64(F.concat(F.lit(tag), F.col("id").cast("string"))).alias("url_hash")
    )


def test_zero_false_negatives(spark):
    seen = _hashes(spark, 0, 5000)
    segs = C.build_cuckoo_segments(seen, n_segments=8, n_buckets=1 << 9)
    flagged = C.cuckoo_flag(seen, segs, n_segments=8)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_zero_false_negatives_past_capacity(spark):
    """5k keys into 8 segments × 2^6 buckets × 4 slots = 2k slots — 2.5×
    overfull.  Insertions spill to the stash; probes stay exact-negative-free."""
    seen = _hashes(spark, 0, 5000)
    segs = C.build_cuckoo_segments(seen, n_segments=8, n_buckets=1 << 6)
    assert segs.agg(F.sum(F.size("stash"))).collect()[0][0] > 0  # genuinely overfull
    flagged = C.cuckoo_flag(seen, segs, n_segments=8)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_fp_rate_bounded(spark):
    seen = _hashes(spark, 0, 5000)
    segs = C.build_cuckoo_segments(seen, n_segments=8, n_buckets=1 << 9)
    fresh = _hashes(spark, 0, 20000, tag="other:")
    flagged = C.cuckoo_flag(fresh, segs, n_segments=8)
    fp = flagged.filter(F.col("maybe_seen")).count() / 20000
    # 16-bit fingerprints, 2 buckets x 4 slots: expected ~8/2^16 ≈ 1.2e-4
    assert fp < 0.01, fp


def test_dedup_with_cuckoo_equals_exact(spark):
    seen = _hashes(spark, 0, 3000)
    segs = C.build_cuckoo_segments(seen, n_segments=8, n_buckets=1 << 9)
    cand = _hashes(spark, 1500, 6000).withColumn("seq", F.col("url_hash") % 100)
    exact = cand.join(seen, "url_hash", "left_anti")
    got = C.dedup_with_cuckoo(cand, seen, segs, n_segments=8)
    assert got.count() == exact.count()
    assert got.select("url_hash").exceptAll(exact.select("url_hash")).count() == 0


def test_delete_reopens_urls_and_keeps_others(spark):
    """The Bloom-impossible operation: expire keys from the seen filter.
    Deleted keys must probe unseen again (recrawl semantics: the scheduler
    re-enqueues them); every surviving key must still probe seen (multiset
    copies keep colliding keys correct)."""
    seen = _hashes(spark, 0, 4000)
    segs = C.build_cuckoo_segments(seen, n_segments=8, n_buckets=1 << 9)
    expired = _hashes(spark, 0, 1000)
    kept = _hashes(spark, 1000, 4000)
    segs2 = C.delete_cuckoo(segs, expired, n_segments=8)
    segs2 = spark.createDataFrame(segs2.collect(), schema=C.CUCKOO_SCHEMA)
    # survivors: zero false negatives still
    fl_kept = C.cuckoo_flag(kept, segs2, n_segments=8)
    assert fl_kept.filter(~F.col("maybe_seen")).count() == 0
    # expired keys: free to be re-scheduled (tolerate residual FP-rate hits
    # from unrelated fingerprints, same ε as any probe)
    fl_exp = C.cuckoo_flag(expired, segs2, n_segments=8)
    residual = fl_exp.filter(F.col("maybe_seen")).count()
    assert residual <= 1000 * 0.01, residual


def test_delete_past_capacity_via_stash(spark):
    """Deletion must also find copies that live in the stash."""
    seen = _hashes(spark, 0, 5000)
    segs = C.build_cuckoo_segments(seen, n_segments=8, n_buckets=1 << 6)
    segs2 = C.delete_cuckoo(segs, seen, n_segments=8)
    # everything deleted → table and stash drained
    agg = segs2.agg(
        F.sum("n_keys").alias("nk"), F.sum(F.size("stash")).alias("ns")
    ).collect()[0]
    assert agg["nk"] == 0
    assert agg["ns"] == 0
