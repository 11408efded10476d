"""AutoThrottle delay recurrence + budgets (politeness.py) and
context-window sequence packing (packing.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nrsr_crawler_spark.operators.packing import packing_stats, seq_packing
from nrsr_crawler_spark.operators.politeness import (
    autothrottle_budgets,
    autothrottle_delays,
)


def _fold_py(lats, start=5000, lo=2500, hi=60000, tc=1000):
    d = start
    for x in lats:
        d = max(lo, min(hi, (d + x * 1000 // tc) // 2))
    return d


# ------------------------------------------------------------- autothrottle

def test_autothrottle_matches_python_recurrence(spark):
    rows = [
        ("a", 1, 3000), ("a", 2, 1000), ("a", 3, 8000),
        ("b", 1, 100),                      # fast host converges toward min
        ("c", 1, 120000), ("c", 2, 120000), # slow host clamps at max
    ]
    df = spark.createDataFrame(rows, "host string, epoch int, latency_ms long")
    got = {r["host"]: r["delay_ms"] for r in autothrottle_delays(df).collect()}
    per_host = {"a": [3000, 1000, 8000], "b": [100], "c": [120000, 120000]}
    for h, lats in per_host.items():
        assert got[h] == _fold_py(lats), h
    assert got["b"] == 2550  # (5000+100)//2
    assert got["c"] == 60000  # clamped at AUTOTHROTTLE_MAX_DELAY


def test_autothrottle_order_matters_and_is_respected(spark):
    # same multiset of latencies, different order → different delay; the
    # fold must follow the epoch order, not collection order
    df = spark.createDataFrame(
        [("a", 1, 10000), ("a", 2, 2000), ("b", 1, 2000), ("b", 2, 10000)],
        "host string, epoch int, latency_ms long",
    )
    got = {r["host"]: r["delay_ms"] for r in autothrottle_delays(df).collect()}
    assert got["a"] == _fold_py([10000, 2000])
    assert got["b"] == _fold_py([2000, 10000])
    assert got["a"] != got["b"]


def test_autothrottle_budgets_floor_one(spark):
    d = spark.createDataFrame(
        [("a", 2500), ("b", 60000), ("c", 59999)], "host string, delay_ms long"
    )
    got = {r["host"]: r["budget"] for r in autothrottle_budgets(d, epoch_ms=60000).collect()}
    assert got == {"a": 24, "b": 1, "c": 1}


def test_engine_host_budgets_hook(spark, shared_crawl, tmp_path):
    """CrawlEngine(host_budgets=...) caps per-host pops exactly like the
    crawl-delay path (the AutoThrottle output feeds this hook)."""
    from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine
    from nrsr_crawler_spark.sources.synthetic_site import (
        PAGES_SCHEMA,
        SEED_URL,
        generate_site,
        site_rows,
    )

    site = generate_site(periods=1, pages_per_period=2, details_per_page=3, members_per_period=2)
    pages = spark.createDataFrame(site_rows(site), PAGES_SCHEMA)
    _, s_fast = shared_crawl(pages, tmp_path / "fast", [SEED_URL], budget_per_host=100, use_bloom=False)
    throttled = CrawlEngine(
        spark, pages, str(tmp_path / "slow"), budget_per_host=100, use_bloom=False,
        host_budgets={"www.nrsr.sk": 2},
    )
    s_slow = throttled.run([SEED_URL])
    # same fetch set, more epochs — pacing changes the schedule, not coverage
    assert s_slow.fetched == s_fast.fetched
    assert s_slow.epochs > s_fast.epochs
    per_epoch = (
        throttled.lake.read_all(spark, "fetch_log")
        .groupBy("epoch")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert max(r["n"] for r in per_epoch) <= 2


# ------------------------------------------------------------------ packing

def test_seq_packing_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "s", " ".join(["w"] * 10)),  # off 0,  seqs 0-0
            (2, "s", " ".join(["w"] * 10)),  # off 10, seqs 0-1 (split at 16)
            (3, "s", ""),                    # off 20, empty → seq 1, 0 splits
            (4, "s", " ".join(["w"] * 40)),  # off 20, seqs 1-3 (two splits)
        ],
        "doc_id long, source string, text string",
    )
    rows = {r["doc_id"]: r for r in seq_packing(docs, seq_len=16).collect()}
    assert (rows[1]["start_offset"], rows[1]["start_seq"], rows[1]["end_seq"], rows[1]["n_splits"]) == (0, 0, 0, 0)
    assert (rows[2]["start_offset"], rows[2]["start_seq"], rows[2]["end_seq"], rows[2]["n_splits"]) == (10, 0, 1, 1)
    assert (rows[3]["n_tokens"], rows[3]["start_seq"], rows[3]["n_splits"]) == (0, 1, 0)
    assert (rows[4]["start_offset"], rows[4]["start_seq"], rows[4]["end_seq"], rows[4]["n_splits"]) == (20, 1, 3, 2)


def test_seq_packing_groups_are_independent(spark):
    one = [(i, "a", "w w w") for i in range(5)]
    two = [(i + 100, "b", "w w w w w") for i in range(5)]
    docs = spark.createDataFrame(one + two, "doc_id long, source string, text string")
    rows = seq_packing(docs, seq_len=8).collect()
    offs_a = sorted(r["start_offset"] for r in rows if r["source"] == "a")
    offs_b = sorted(r["start_offset"] for r in rows if r["source"] == "b")
    assert offs_a == [0, 3, 6, 9, 12]   # each stream starts at 0
    assert offs_b == [0, 5, 10, 15, 20]


def test_packing_stats_rollup(spark):
    docs = spark.createDataFrame(
        [(1, "s", " ".join(["w"] * 10)), (2, "s", " ".join(["w"] * 10))],
        "doc_id long, source string, text string",
    )
    st = packing_stats(seq_packing(docs, seq_len=16), seq_len=16).collect()[0]
    assert st["total_tokens"] == 20
    assert st["n_seqs"] == 2           # ceil(20/16)
    assert st["docs_split"] == 1       # doc 2 crosses the 16 boundary
    assert st["tail_padding"] == 12    # 2*16 - 20
