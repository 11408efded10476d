"""Round-5 wave C invariants: caption conflicts, crop plan, staleness
histogram, robots coverage."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from nrsr_crawler_spark.operators.caption_conflicts import caption_conflicts
from nrsr_crawler_spark.operators.compliance import robots_coverage
from nrsr_crawler_spark.operators.crop_plan import crop_plan
from nrsr_crawler_spark.operators.staleness import staleness_histogram


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


# -- caption conflicts --------------------------------------------------------


def test_caption_election_md5_min_wins(spark):
    imgs = spark.createDataFrame(
        [("a", 1, "zebra"), ("b", 1, "apple"), ("c", 1, "apple"), ("d", 2, "solo")],
        "image_id string, phash long, caption string",
    )
    out = {r["phash"]: r for r in caption_conflicts(imgs).collect()}
    want = min(["zebra", "apple"], key=lambda c: (hashlib.md5(c.encode()).hexdigest(), c))
    assert out[1]["canonical_caption"] == want
    assert out[1]["n_images"] == 3 and out[1]["n_captions"] == 2 and out[1]["conflict"]
    # keeper = min image id among rows carrying the winning caption
    assert out[1]["keeper_id"] == ("b" if want == "apple" else "a")
    assert out[2]["conflict"] is False and out[2]["keeper_id"] == "d"


def test_caption_conflicts_single_groupby_no_python(spark):
    imgs = spark.createDataFrame(
        [("a", 1, "x")], "image_id string, phash long, caption string"
    )
    plan = _plan(caption_conflicts(imgs))
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


# -- crop plan ----------------------------------------------------------------


def test_crop_plan_bounds_and_determinism(spark):
    imgs = spark.createDataFrame(
        [("img1", 100, 200), ("img2", 64, 64)], "image_id string, w long, h long"
    )
    a = crop_plan(imgs, n_epochs=3).collect()
    b = crop_plan(imgs, n_epochs=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert len(a) == 6
    dims = {r["image_id"]: (r["crop_w"], r["crop_h"]) for r in a}
    for r in a:
        w, h = (100, 200) if r["image_id"] == "img1" else (64, 64)
        assert (w * 70) // 100 <= r["crop_w"] <= w
        assert (h * 70) // 100 <= r["crop_h"] <= h
        assert 0 <= r["x0"] <= w - r["crop_w"]  # crop stays inside the image
        assert 0 <= r["y0"] <= h - r["crop_h"]
    # epochs actually vary the rect (hash draws are epoch-dependent)
    img1 = {(r["crop_w"], r["crop_h"], r["x0"], r["y0"]) for r in a if r["image_id"] == "img1"}
    assert len(img1) > 1


def test_crop_plan_dims_exact_past_double_precision(spark):
    # w·pct ≈ 6e17–9e17 is far past 2⁵³, where a double rounds to a multiple
    # of 128: crop dims must be the exact BIGINT (axis · pct) div 100
    w, h = 2**53 + 12345, 2**53 + 987
    imgs = spark.createDataFrame([("big", w, h)], "image_id string, w long, h long")
    for r in crop_plan(imgs, n_epochs=8).collect():
        digest = hashlib.md5(f"big:{r['epoch']}".encode()).hexdigest()
        pct_w = 70 + int(digest[0:4], 16) % 31
        pct_h = 70 + int(digest[4:8], 16) % 31
        assert r["crop_w"] == (w * pct_w) // 100
        assert r["crop_h"] == (h * pct_h) // 100


def test_crop_plan_zero_shuffle(spark):
    imgs = spark.createDataFrame([("i", 64, 64)], "image_id string, w long, h long")
    plan = _plan(crop_plan(imgs, n_epochs=2))
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


# -- staleness histogram ------------------------------------------------------


def test_staleness_buckets_and_cumulative(spark):
    ages = spark.createDataFrame(
        [(a,) for a in [0, 1, 9, 10, 15, 35]], "age_epochs long"
    )
    out = {r["bucket"]: r for r in staleness_histogram(ages, width=10).collect()}
    assert set(out) == {0, 1, 3}
    assert out[0]["n_urls"] == 3 and (out[0]["lo"], out[0]["hi"]) == (0, 9)
    assert out[0]["share_bps"] == 5000 and out[0]["cum_share_bps"] == 5000
    assert out[1]["cum_share_bps"] == (5 * 10000) // 6
    assert out[3]["cum_share_bps"] == 10000  # closes at exactly 100%


# -- robots coverage ----------------------------------------------------------


def test_robots_coverage_longest_prefix_wins(spark):
    rules = [
        {"host": "h", "user_agent": "*", "rule": "disallow",
         "path_prefix": "/x/", "crawl_delay": None},
        {"host": "h", "user_agent": "*", "rule": "allow",
         "path_prefix": "/x/ok/", "crawl_delay": None},
    ]
    cand = spark.createDataFrame(
        [("h", "https://h/x/secret"), ("h", "https://h/x/ok/fine"),
         ("h", "https://h/open"), ("g", "https://g/x/anything")],
        "host string, url string",
    )
    out = {r["host"]: r for r in robots_coverage(cand, rules).collect()}
    assert out["h"]["n_urls"] == 3 and out["h"]["n_allowed"] == 2
    assert out["h"]["n_blocked"] == 1 and out["h"]["blocked_bps"] == 3333
    assert out["g"]["n_allowed"] == 1  # no rule for g ⇒ allowed


def test_robots_coverage_no_join_no_python(spark):
    rules = [{"host": "h", "user_agent": "*", "rule": "disallow",
              "path_prefix": "/x/", "crawl_delay": None}]
    cand = spark.createDataFrame([("h", "https://h/a")], "host string, url string")
    plan = _plan(robots_coverage(cand, rules))
    assert "Join" not in plan and "BatchEvalPython" not in plan


# -- wave E: task bins, storage tiers, retention ------------------------------


def test_host_task_bins_pack_small_hosts(spark):
    from nrsr_crawler_spark.operators.task_bins import host_task_bins

    rows = [(f"h{i % 20}",) for i in range(200)]  # 20 hosts × 10 pending
    out = host_task_bins(spark.createDataFrame(rows, "host string"), bin_size=50)
    got = out.collect()
    assert len(got) == 20
    # bins hold ~50 pending across ~5 hosts each; ids contiguous from 0
    bins = sorted({r["bin_id"] for r in got})
    assert bins == list(range(len(bins))) and len(bins) == 4
    # cum_lo is a permutation-consistent prefix: max(cum_lo)+10 == total
    assert max(r["cum_lo"] for r in got) + 10 == 200
    # stability: same input → same assignment
    again = {(r["host"], r["bin_id"]) for r in host_task_bins(
        spark.createDataFrame(rows, "host string"), bin_size=50).collect()}
    assert again == {(r["host"], r["bin_id"]) for r in got}


def test_storage_tiers_assignment_and_rollup(spark):
    from nrsr_crawler_spark.operators.storage_tiers import tier_assign, tier_totals

    objs = spark.createDataFrame(
        [("a", 100, 3, 0),    # hot (fresh)
         ("b", 200, 30, 0),   # warm (mid age)
         ("c", 300, 80, 5),   # warm (old but hot-accessed)
         ("d", 400, 80, 0)],  # cold
        "object_id string, size_bytes long, age_epochs long, access_count long",
    )
    tiers = {r["object_id"]: r["tier"] for r in tier_assign(objs).collect()}
    assert tiers == {"a": "hot", "b": "warm", "c": "warm", "d": "cold"}
    tot = {r["tier"]: r for r in tier_totals(tier_assign(objs)).collect()}
    assert tot["warm"]["total_bytes"] == 500 and tot["warm"]["n_objects"] == 2
    assert tot["cold"]["share_bps"] == 4000  # 400 of 1000 bytes


def test_retention_cohorts_matrix(spark):
    from nrsr_crawler_spark.operators.retention import retention_cohorts

    # cohort 1: users u1,u2 (u1 active weeks 1,2,3; u2 only week 1)
    # cohort 2: user u3 (active weeks 2 and 4)
    rows = [("u1", 1), ("u1", 2), ("u1", 3), ("u2", 1), ("u3", 2), ("u3", 4),
            ("u1", 2)]  # duplicate activity must not double-count
    ev = spark.createDataFrame(rows, "user_id string, week long")
    out = {(r["cohort"], r["offset"]): r
           for r in retention_cohorts(ev, "user_id", "week").collect()}
    assert out[(1, 0)]["n_active"] == 2 and out[(1, 0)]["retention_bps"] == 10000
    assert out[(1, 1)]["n_active"] == 1 and out[(1, 1)]["retention_bps"] == 5000
    assert out[(1, 2)]["n_active"] == 1
    assert out[(2, 0)]["cohort_size"] == 1 and out[(2, 2)]["n_active"] == 1
    assert (2, 1) not in out  # no activity at offset 1 for cohort 2
