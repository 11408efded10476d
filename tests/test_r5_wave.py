"""Round-5 wave B invariants: scheduling fairness, byte-budget pop,
revalidation planning, rendezvous shard resize."""

from __future__ import annotations

from pyspark.sql import functions as F

from nrsr_crawler_spark.operators.cost_budget import budget_value_pop
from nrsr_crawler_spark.operators.fairness import scheduling_fairness
from nrsr_crawler_spark.operators.revalidate import revalidation_plan
from nrsr_crawler_spark.operators.shard_assign import rendezvous_assign, resize_plan


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


# -- fairness -----------------------------------------------------------------


def test_fairness_even_schedule_is_10000(spark):
    sched = spark.createDataFrame(
        [(f"h{i % 4}",) for i in range(40)], "host string"
    )
    r = scheduling_fairness(sched).collect()[0]
    assert r["jain_bps"] == 10000
    assert r["n_hosts"] == 4 and r["n_scheduled"] == 40
    assert r["max_share_bps"] == r["min_share_bps"] == 2500


def test_fairness_single_host_dominates(spark):
    # 1 host takes 96 of 99 → J = 99²·10⁴ / (4 · (96²+1+1+1)) ≈ 2657 bps
    rows = [("big",)] * 96 + [("a",), ("b",), ("c",)]
    r = scheduling_fairness(spark.createDataFrame(rows, "host string")).collect()[0]
    assert r["jain_bps"] == (99 * 99 * 10000) // (4 * (96 * 96 + 3))
    assert r["max_share_bps"] == (96 * 10000) // 99


def test_fairness_exact_past_bigint_square(spark):
    # Σx = 31,000,001 → (Σx)²·10⁴ ≈ 9.6e18 > 2⁶³−1: the Jain numerator no
    # longer fits a BIGINT; the index must still be the exact integer ratio
    n = 31_000_001
    sched = spark.range(n).select(F.concat(F.lit("h"), (F.col("id") % 3).cast("string")).alias("host"))
    r = scheduling_fairness(sched).collect()[0]
    xs = [n // 3 + (1 if i < n % 3 else 0) for i in range(3)]
    assert r["n_scheduled"] == n
    assert r["jain_bps"] == (n * n * 10000) // (3 * sum(x * x for x in xs))


def test_fairness_single_aggregation_no_python(spark):
    sched = spark.createDataFrame([("h1",), ("h2",)], "host string")
    plan = _plan(scheduling_fairness(sched))
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


# -- byte-budget pop ----------------------------------------------------------


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows, "host string, priority long, seq long, url_hash long, est_cost_bytes long"
    )


def test_budget_pop_first_fit_in_pop_order(spark):
    # pop order: priority DESC, seq DESC.  budget 100: takes 60 then 30
    # (cum 90), the 50-cost row overflows (cum 140) and everything after
    # stays untaken (first-fit, no skip-ahead).
    fr = _frontier(spark, [
        ("h", 9, 4, 1, 60),
        ("h", 9, 3, 2, 30),
        ("h", 9, 2, 3, 50),
        ("h", 9, 1, 4, 5),
    ])
    out = {r["url_hash"]: (r["cum_cost_bytes"], r["taken"])
           for r in budget_value_pop(fr, byte_budget=100).collect()}
    assert out[1] == (60, True) and out[2] == (90, True)
    assert out[3] == (140, False) and out[4] == (145, False)


def test_budget_pop_hosts_independent_and_rank_capped(spark):
    rows = [("a", 1, i, i, 10) for i in range(1, 30)] + [("b", 1, 1, 100, 10)]
    out = budget_value_pop(
        _frontier(spark, rows), byte_budget=1000, max_candidates=5
    )
    got = out.groupBy("host").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("taken").cast("int")).alias("t")
    ).collect()
    by_host = {r["host"]: (r["n"], r["t"]) for r in got}
    assert by_host["a"] == (5, 5)  # rank cap bounds the cumsum window input
    assert by_host["b"] == (1, 1)


def test_budget_pop_no_cartesian_no_python(spark):
    fr = _frontier(spark, [("h", 1, 1, 1, 10)])
    plan = _plan(budget_value_pop(fr, byte_budget=100))
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


# -- revalidation plan --------------------------------------------------------


def _cands(spark, rows):
    return spark.createDataFrame(
        rows,
        "url_hash long, age_epochs long, fetch_count long, change_count long, "
        "has_validator boolean, size_bytes long",
    )


def test_revalidation_actions_and_savings(spark):
    out = {r["url_hash"]: r for r in revalidation_plan(_cands(spark, [
        (1, 0, 5, 0, True, 9000),    # too fresh → skip
        (2, 3, 5, 0, True, 9000),    # stable + validator → revalidate
        (3, 3, 5, 0, False, 9000),   # no validator → refetch
        (4, 3, 5, 4, True, 9000),    # 8000 bps churn → refetch
        (5, 3, 5, 0, True, 100),     # saving floors at 0 (size < overhead)
    ])).collect()}
    assert out[1]["action"] == "skip" and out[1]["est_saved_bytes"] == 0
    assert out[2]["action"] == "revalidate" and out[2]["est_saved_bytes"] == 8400
    assert out[3]["action"] == "refetch" and out[3]["est_saved_bytes"] == 0
    assert out[4]["action"] == "refetch" and out[4]["change_bps"] == 8000
    assert out[5]["action"] == "revalidate" and out[5]["est_saved_bytes"] == 0


def test_revalidation_zero_shuffle(spark):
    plan = _plan(revalidation_plan(_cands(spark, [(1, 3, 5, 0, True, 9000)])))
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


# -- rendezvous shard resize --------------------------------------------------


def _hosts(spark, n=200):
    return spark.createDataFrame([(f"host{i}",) for i in range(n)], "host string")


def test_rendezvous_deterministic_and_in_range(spark):
    a = {(r["host"], r["shard"]) for r in rendezvous_assign(_hosts(spark), 8).collect()}
    b = {(r["host"], r["shard"]) for r in rendezvous_assign(_hosts(spark), 8).collect()}
    assert a == b
    assert all(0 <= s < 8 for _, s in a)


def test_resize_moves_only_into_new_shards(spark):
    out = resize_plan(_hosts(spark), n_shards=8, growth=4).collect()
    assert len(out) == 200
    for r in out:
        if r["moved"]:
            # THE rendezvous invariant: a moved host lands in a NEW shard
            assert r["shard_large"] >= 8, (r["host"], r["shard_large"])
        else:
            assert r["shard_small"] == r["shard_large"]
    # expected movement ≈ 3/4 (new shards must absorb their share);
    # loose band to stay fixture-stable
    moved = sum(1 for r in out if r["moved"])
    assert 0.55 <= moved / 200 <= 0.92


def test_resize_no_cartesian_no_python(spark):
    plan = _plan(resize_plan(_hosts(spark, 20), n_shards=4, growth=4))
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


# -- wave D: salt plan + segment occupancy ------------------------------------


def test_salt_plan_clamps_and_task_size(spark):
    from nrsr_crawler_spark.operators.salt_advisor import salt_plan

    rows = (
        [("mega",)] * 5000 + [("mid",)] * 2500 + [("cold",)] * 3
    )
    out = {r["host"]: r for r in salt_plan(
        spark.createDataFrame(rows, "host string"),
        target_rows_per_task=1000, max_salts=4,
    ).collect()}
    assert out["mega"]["salts"] == 4          # ceil(5000/1000)=5 → clamped to 4
    assert out["mega"]["rows_per_task"] == 1250
    assert out["mid"]["salts"] == 3 and out["mid"]["rows_per_task"] == 834
    assert out["cold"]["salts"] == 1 and out["cold"]["rows_per_task"] == 3


def test_segment_occupancy_uniform_and_hot(spark):
    from pyspark.sql import functions as SF

    from nrsr_crawler_spark.operators.segment_stats import segment_occupancy

    # 4 segments, perfectly uniform: load_bps exactly 10000 everywhere
    uni = spark.range(0, 400).select(SF.col("id").alias("url_hash"))
    out = segment_occupancy(uni, n_segments=4).collect()
    assert len(out) == 4
    assert all(r["load_bps"] == 10000 and r["n_keys"] == 100 for r in out)
    # plant a hot segment: every key ≡ 1 (mod 4)
    hot = spark.range(0, 100).select((SF.col("id") * 4 + 1).alias("url_hash"))
    h = segment_occupancy(uni.unionAll(hot), n_segments=4).collect()
    by_seg = {r["segment_id"]: r for r in h}
    assert by_seg[1]["n_keys"] == 200
    assert by_seg[1]["load_bps"] == (200 * 4 * 10000) // 500
    assert by_seg[0]["load_bps"] < 10000
