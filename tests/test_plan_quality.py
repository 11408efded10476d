"""Physical-plan quality gates (SURVEY §4 — "is this the plan we'd want at
100 TB?").

These assert structural properties of `explain()` output rather than row
values: filters reach the parquet scan, small dimensions broadcast, rank
windows prune via WindowGroupLimit, and hot paths never fall back to
``parse_url``'s per-component re-parse.  They pin the perf properties the
bench relies on so a refactor can't silently regress the plan shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nrsr_crawler_spark.functions import urls as U
from nrsr_crawler_spark.operators import frontier, politeness

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_incremental_cutoff_pushed_to_scan(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["p3_incremental_cutoff"](spark, SF))
    assert "PushedFilters:" in plan
    # both the date cutoff and the status predicate must reach the reader
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln][0]
    assert "o_orderdate" in pushed and "o_orderstatus" in pushed, pushed


def test_scan_prunes_columns(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["p3_incremental_cutoff"](spark, SF))
    read = [ln for ln in plan.splitlines() if "ReadSchema:" in ln][0]
    # 9-column orders table: only the 3 referenced columns are read
    assert "o_orderkey" in read and "o_totalprice" not in read and "o_comment" not in read, read


def test_seen_antijoin_broadcasts_small_side(spark):
    from nrsr_crawler_spark.plans.flagship import frontier_schedule_dedup

    plan = _plan(frontier_schedule_dedup(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]


def test_missing_members_antijoin_broadcasts(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["j2_missing_members"](spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


def test_pop_budget_uses_window_group_limit(spark):
    df = spark.range(0, 10000).select(
        F.lit("www.nrsr.sk").alias("host"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.col("id").alias("seq"),
        F.lit(0).alias("priority"),
    )
    plan = _plan(politeness.pop_budget(df, budget=10))
    # rank-filter pruning must kick in at BOTH window levels (salted + final)
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]


def test_hot_path_has_no_parse_url(spark):
    raw = spark.range(0, 100).select(
        F.concat(F.lit("https://www.nrsr.sk/p?id="), F.col("id")).alias("url"),
        F.col("id").alias("seq"),
        F.lit(0).alias("priority"),
    )
    plan = _plan(frontier.prepare_candidates(raw))
    assert "ParseUrlEvaluator" not in plan and "parse_url" not in plan


def test_prepare_candidates_single_shuffle(spark):
    raw = spark.range(0, 100).select(
        F.concat(F.lit("https://www.nrsr.sk/p?id="), F.col("id") % 10).alias("url"),
        F.col("id").alias("seq"),
        F.lit(0).alias("priority"),
    )
    plan = _plan(frontier.prepare_candidates(raw))
    # in-batch exact dedup = one hash shuffle on url_hash, nothing else
    # (each node renders twice in formatted explain: tree + detail section)
    assert plan.count("+- Exchange") == 1, plan[:3000]


def test_typed_merge_pushes_filter_to_scan(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["items_typed_merge"](spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert any("p_partkey" in ln for ln in pushed), pushed


def test_typed_parse_is_single_arrow_pass(spark):
    """The typed extraction is ONE Arrow-batched mapInPandas per item type —
    no row-at-a-time Python (BatchEvalPython) anywhere; the folds stay as
    JVM column expressions (Project over the UDF output)."""
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["items_member_fold"](spark, SF))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_canon_stage_stays_in_wholestage_codegen(spark):
    raw = spark.range(0, 100).select(
        F.concat(F.lit("https://www.nrsr.sk/p?id="), F.col("id")).alias("url")
    )
    df = U.with_canon(raw, hash_col="url_hash")
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    )
    # "Found 1 WholeStageCodegen subtrees" and no fallback markers
    assert "WholeStageCodegen" in plan
    assert "Project" in plan


def test_phash_neardup_avoids_cartesian_product(spark):
    """The banded Hamming join must plan as an equi-join (hash/sort-merge on
    (band, key)) — a CartesianProduct/BroadcastNestedLoopJoin would mean the
    pigeonhole bucketing failed to reach the physical plan."""
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["images_phash_neardup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_slim_schedule_matches_full_and_ships_no_url_strings(spark):
    """prepare_candidates_slim + pop + rejoin_urls must produce the SAME
    winner rows as the full-payload plan, while no exchange in the slim plan
    carries a URL string column (the 100-TB lever: bytes/URL through the
    wire).  Includes malformed/empty/NULL URLs (dropped by canon)."""
    from nrsr_crawler_spark.operators import politeness

    raw = spark.range(0, 500).select(
        F.concat(F.lit("HTTPS://WWW.NRSR.SK/p?id="), F.col("id") % 50).alias("url"),
        F.col("id").alias("seq"),
        F.lit(0).alias("priority"),
    ).unionByName(
        spark.createDataFrame(
            [
                ("not a url at all", 9001, 0),
                ("", 9002, 0),
                (None, 9003, 0),
                # exact duplicate of the range's (p?id=1, seq=1) WINNER row —
                # real frontiers contain identical rows; rejoin_urls must
                # still emit each popped key exactly once
                ("HTTPS://WWW.NRSR.SK/p?id=1", 1, 0),
            ],
            "url string, seq long, priority int",
        )
    )
    full = frontier.prepare_candidates(raw)
    full_pop = politeness.pop_budget(full, budget=7, tiebreak=[F.col("url_hash")])
    slim = frontier.prepare_candidates_slim(raw)
    keys = politeness.pop_budget(slim, budget=7, tiebreak=[F.col("url_hash")]).select(
        "url_hash", "seq", "rk"
    )
    slim_pop = frontier.rejoin_urls(keys, raw)
    a = sorted(map(repr, full_pop.select("canon_url", "seq", "rk").collect()))
    b = sorted(map(repr, slim_pop.select("canon_url", "seq", "rk").collect()))
    assert a == b and len(a) == 7

    # no URL string crosses an exchange in the slim plan: every Exchange's
    # input schema is free of url/canon_url (check the formatted plan's
    # Exchange input columns via the tree above each Exchange node)
    plan = _plan(keys)
    for seg in plan.split("Exchange ")[1:]:
        header = seg.splitlines()[0]
        assert "canon_url" not in header and "url#" not in header, header


def test_rejoin_urls_tells_shared_seq_apart_and_drops_invalid_urls(spark):
    """rejoin_urls over the hard cases: two URLs sharing one seq (only one
    popped), an exact-duplicate winner row, NULL and garbage URLs on a
    popped seq, and a popped key whose seq occurs in raw only under
    another URL.  The slim pass must equal the full-payload one."""
    from nrsr_crawler_spark.functions.hashing import xxh64_str

    raw = spark.createDataFrame(
        [
            ("https://www.nrsr.sk/c13", 13, 0),
            ("https://www.nrsr.sk/c12", 12, 0),
            ("https://www.nrsr.sk/c11", 11, 0),
            ("https://www.nrsr.sk/a", 10, 0),
            ("https://www.nrsr.sk/a", 10, 0),
            ("HTTPS://www.nrsr.sk/b#frag", 10, 0),
            ("not a url at all", 10, 0),
            ("", 10, 0),
            (None, 10, 0),
            ("https://www.nrsr.sk/c9", 9, 0),
        ],
        "url string, seq long, priority int",
    )
    # budget 4: seq 13, 12, 11, then ONE of a/b (seq 10, url_hash breaks the tie)
    full = frontier.prepare_candidates(raw)
    full_pop = politeness.pop_budget(full, budget=4, tiebreak=[F.col("url_hash")])
    keys = politeness.pop_budget(
        frontier.prepare_candidates_slim(raw), budget=4, tiebreak=[F.col("url_hash")]
    ).select("url_hash", "seq", "rk")
    slim_pop = frontier.rejoin_urls(keys, raw)
    a = sorted(map(repr, full_pop.select("url_hash", "canon_url", "seq", "rk").collect()))
    b = sorted(map(repr, slim_pop.select("url_hash", "canon_url", "seq", "rk").collect()))
    assert a == b and len(a) == 4
    at10 = [r.canon_url for r in slim_pop.collect() if r.seq == 10]
    assert len(at10) == 1 and at10[0] in ("https://www.nrsr.sk/a", "https://www.nrsr.sk/b")

    # both shared-seq URLs popped, plus a key whose seq 9 belongs to c9 only
    h = {u: xxh64_str(f"https://www.nrsr.sk/{u}") for u in ("a", "b", "q")}
    hand = spark.createDataFrame(
        [(h["a"], 10, 1), (h["b"], 10, 2), (h["q"], 9, 3)], "url_hash long, seq long, rk int"
    )
    got = sorted(
        (r.rk, r.canon_url, r.url_hash, r.seq)
        for r in frontier.rejoin_urls(hand, raw).collect()
    )
    assert got == [
        (1, "https://www.nrsr.sk/a", h["a"], 10),
        (2, "https://www.nrsr.sk/b", h["b"], 10),
    ]


def _canon_inputs(spark):
    raw = spark.range(0, 100).select(
        F.concat(F.lit("https://www.nrsr.sk/p?id="), F.col("id") % 10).alias("url"),
        F.col("id").alias("seq"),
        F.lit(0).alias("priority"),
    )
    keys = spark.range(0, 3).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.col("id").alias("seq"),
        F.lit(1).alias("rk"),
    )
    return raw, keys


def test_with_canon_consumers_keep_canon_out_of_predicates(spark):
    """Every with_canon consumer evaluates the canon once per call: no
    comparison with canon_url or url_hash above it is pushed into the alias
    chain (the stream's validity filter aside, see below)."""
    from nrsr_crawler_spark.plans.epoch_loop import _tombstone_keys
    from nrsr_crawler_spark.sources.sitemap import sitemap_candidates
    from nrsr_crawler_spark.streaming.frontier_stream import prepare_stream

    from tests.plan_guard import assert_canon_plan

    raw, keys = _canon_inputs(spark)
    pages = spark.range(0, 2).select(
        F.concat(
            F.lit("<urlset><url><loc>https://www.nrsr.sk/s?id="),
            F.col("id"),
            F.lit("</loc></url><url><loc>garbage</loc></url></urlset>"),
        ).alias("body")
    )
    assert_canon_plan(frontier.rejoin_urls(keys, raw))
    assert_canon_plan(frontier.prepare_candidates(raw))
    assert_canon_plan(frontier.prepare_candidates_slim(raw))
    assert_canon_plan(sitemap_candidates(pages))
    assert_canon_plan(_tombstone_keys(raw.select("url")))
    # a stream must drop invalid rows before its stateful dedup, so its
    # validity filter is pushed down: a linear predicate that reads the url
    # four more times, never the whole canon
    assert_canon_plan(prepare_stream(raw), entries=5)


def test_plan_guard_catches_hash_compared_above_canon(spark):
    """The guard rejects the shape that recanonicalizes every row: a join
    on seq, then the recomputed hash compared with the joined one."""
    from tests.plan_guard import assert_canon_plan

    raw, keys = _canon_inputs(spark)
    joined = raw.join(F.broadcast(keys.withColumnRenamed("url_hash", "want")), "seq")
    bad = U.with_canon(joined, hash_col="url_hash").filter(
        F.col("url_hash") == F.col("want")
    )
    with pytest.raises(AssertionError, match="hash in join condition"):
        assert_canon_plan(bad)


def test_trap_demotion_stays_broadcast_and_adds_no_exchange(spark):
    """The engine's pop-time trap demotion must join the flagged template
    set via BroadcastHashJoin and add ZERO shuffle exchanges beyond the two
    the slim pop windows already pay — the guard is free at 100 TB."""
    from nrsr_crawler_spark.operators import traps

    pending = spark.range(0, 20000).select(
        F.concat(F.lit("https://www.nrsr.sk/p.aspx?d="), F.col("id")).alias("canon_url"),
        F.lit("www.nrsr.sk").alias("host"),
        F.col("id").alias("seq"),
        F.lit(0).alias("priority"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
    ).withColumn("tpl_hash", traps.tpl_hash(F.col("host"), F.col("canon_url")))
    flagged = pending.groupBy("tpl_hash").count().filter(F.col("count") > 100).select(
        "tpl_hash", F.lit(True).alias("__trapped")
    )
    demoted = (
        pending.join(F.broadcast(flagged), "tpl_hash", "left")
        .withColumn(
            "priority",
            F.when(F.col("__trapped"), F.col("priority") - 1000000).otherwise(F.col("priority")),
        )
        .drop("__trapped")
    )
    plain = politeness.pop_budget_slim(pending, budget=50, num_salts=4, tiebreak_cols=["url_hash"])
    guarded = politeness.pop_budget_slim(demoted, budget=50, num_salts=4, tiebreak_cols=["url_hash"])
    p_plain, p_guarded = _plan(plain), _plan(guarded)
    assert "BroadcastHashJoin" in p_guarded
    n_ex = lambda p: p.count("Exchange hashpartitioning") + p.count("Exchange rangepartitioning")  # noqa: E731
    assert n_ex(p_guarded) == n_ex(p_plain), (n_ex(p_plain), n_ex(p_guarded))


def test_quality_stats_single_arrow_pass_no_python_rows(spark):
    """images_quality_gate: exactly two Arrow passes (fixture image build +
    decode/signals), flag gate stays column exprs (no BatchEvalPython)."""
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["images_quality_gate"](spark, SF))
    assert plan.count("+- MapInPandas") == 2, plan[:3000]
    assert "BatchEvalPython" not in plan


def test_pair_gate_no_python_above_decode(spark):
    """multimodal_pair_gate: caption gate + join + ledger all JVM-side —
    the only Python is the fixture build + image decode (two Arrow passes)."""
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["multimodal_pair_gate"](spark, SF))
    assert plan.count("+- MapInPandas") == 2, plan[:3000]
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_shard_write_plan_single_shuffle(spark):
    """write_shards' pre-write frame: exactly one exchange (the shard_id
    repartition); assignment + sort add none."""
    from pyspark.sql import functions as F

    from nrsr_crawler_spark.operators import shards as SH
    from nrsr_crawler_spark.sources.tpch import load

    docs = spark.read.parquet(f"{SF}/documents.parquet")  # bare scan: no repartition noise
    staged = (
        SH.assign_shards(docs, "doc_id", 8)
        .repartition(8, "shard_id")
        .sortWithinPartitions("shard_id", "doc_id")
    )
    plan = _plan(staged)
    assert plan.count("+- Exchange") == 1, plan[:3000]
    assert "BatchEvalPython" not in plan


def test_second_wave_text_ops_stay_jvm_side(spark):
    """The round-3 second-wave corpus operators are pure DataFrame plans —
    no row-at-a-time Python, no pandas UDF, anywhere."""
    import nrsr_crawler_spark.entry_queries_ext  # noqa: F401 — registers queries
    import nrsr_crawler_spark.entry_queries_ml  # noqa: F401
    from nrsr_crawler_spark.entry_queries import QUERIES

    for name in (
        "text_block_dedup",
        "dedup_semantic",
        "text_bm25_topk",
        "text_vocab_coverage",
        "anchor_text_rollup",
        "mixture_temperature_sample",
        "text_classifier_filter",
        "corpus_length_quantiles",
        "text_chunk_windows",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_bm25_broadcasts_query_terms_and_stats(spark):
    import nrsr_crawler_spark.entry_queries_ml  # noqa: F401 — registers queries
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["text_bm25_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_third_wave_ops_stay_jvm_side_no_cartesian(spark):
    """HLL / bigram coherence / incremental dedup: pure DataFrame plans —
    no Python rows, no pandas UDF, no cartesian; the bigram top-k is a
    TakeOrderedAndProject (never a global sort of the bigram table)."""
    import nrsr_crawler_spark.entry_queries_ml  # noqa: F401 — registers queries
    from nrsr_crawler_spark.entry_queries import QUERIES

    for name in ("sketch_hll_tokens", "text_bigram_coherence", "dedup_incremental"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = _plan(QUERIES["text_bigram_coherence"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    # scoring joins the k-row top table broadcast-side
    assert "BroadcastHashJoin" in plan


def test_fourth_wave_ops_stay_jvm_side_no_cartesian(spark):
    """Boilerplate strip / leak-safe splits / keep-best: pure DataFrame
    plans — no Python rows, no pandas UDF, no cartesian product."""
    import nrsr_crawler_spark.entry_queries_ml  # noqa: F401 — registers queries
    from nrsr_crawler_spark.entry_queries import QUERIES

    for name in (
        "text_boilerplate_strip",
        "train_split_leakage",
        "dedup_keep_best",
        "train_kmeans_cells",
        "text_cdc_chunks",
        "train_curriculum_order",
        "train_dataset_build",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_containment_single_shingle_subtree(spark):
    # the directed emit must reuse ONE pair aggregate (explode of a
    # conditional array), not a union that re-runs the shingle join twice
    from nrsr_crawler_spark.entry_queries import QUERIES

    import re

    plan = _plan(QUERIES["dedup_containment"](spark, SF))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 4
    assert "Union" not in plan
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_domain_rollup_pure_codegen_single_exchange(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["domain_rollup"](spark, SF))
    # eTLD+1 is string/case arithmetic: no Python, one groupBy exchange pair
    import re

    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one narrow load repartition + one partial->final agg exchange
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2


def test_dsir_ratio_table_broadcasts(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["docs_dsir_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan  # the 64-row ratio table
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan
    # top-100 must be a TakeOrdered, never a global Sort
    assert "TakeOrderedAndProject" in plan


def test_tile_neardup_no_cartesian(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["images_tile_neardup"](spark, SF))
    # the 16-row tile grid is a broadcast nested loop, never CartesianProduct;
    # the pair join buckets on (tr, tc, tile_hash)
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_hits_edges_partition_once_no_python(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["link_hits"](spark, SF))
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_domain_budget_pop_uses_window_group_limit(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["domain_budget_pop"](spark, SF))
    # both window levels must prune via WindowGroupLimit (rank-limit pushdown)
    assert plan.count("WindowGroupLimit") >= 2
    assert "BatchEvalPython" not in plan


def test_bpe_pairs_take_ordered_no_python(spark):
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["text_bpe_pairs"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # top-50, never a global sort
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_token_ledger_no_cartesian_no_python(spark):
    # the 5-stage funnel composes only audited primitives; its ledger rows
    # combine 1-row aggregates via broadcast joins — never a real cartesian,
    # never a per-row Python fallback
    from nrsr_crawler_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["train_token_ledger"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
