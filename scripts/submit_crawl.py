"""Cluster entry point: ``spark-submit --py-files dist/nrsr_crawler_spark.zip
scripts/submit_crawl.py [options]`` (north_rule packaging contract).

Runs the epoch-loop crawl engine against a lake root.  On a cluster the
SparkSession comes from spark-submit (no master set here); locally it falls
back to ``local[$SPARK_GRAFT_CPUS]``.  The same script resumes a killed run:
the lake's last committed epoch is the restart point (byte-identical resume,
tests/test_crawl_golden.py).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lake", required=True, help="lake root (dir / dbfs / s3a path)")
    ap.add_argument("--pages", required=True, help="parquet of the synthetic page table")
    ap.add_argument("--seeds", nargs="*", default=None, help="seed URLs (omit to resume)")
    ap.add_argument("--budget", type=int, default=16, help="politeness budget per host per epoch")
    ap.add_argument("--max-epochs", type=int, default=100000)
    ap.add_argument("--num-salts", type=int, default=16)
    ap.add_argument("--segments", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from nrsr_crawler_spark.session import get_spark

        spark = get_spark("nrsr-crawl")

    pages = spark.read.parquet(args.pages)
    engine = CrawlEngine(
        spark,
        pages,
        args.lake,
        budget_per_host=args.budget,
        num_salts=args.num_salts,
        n_segments=args.segments,
    )
    stats = engine.run(seeds=args.seeds or None, max_epochs=args.max_epochs)
    print(
        f"epochs={stats.epochs} fetched={stats.fetched} "
        f"enqueued={stats.enqueued} items={stats.items}"
    )


if __name__ == "__main__":
    main()
