"""Scheduling-fairness telemetry over a crawl epoch's per-host pop counts.

A polite frontier must not let one mega-host starve the tail: after each
epoch the scheduler's per-host scheduled counts are summarized with
Jain's fairness index (Jain, Chiu & Hawe 1984) — J = (Σx)² / (n·Σx²),
1.0 when perfectly even, →1/n when one host takes everything — plus the
head-host share.  All integer basis points, so the DuckDB oracle replays
it exactly.

Reference tie-in: the reference crawls one host and cannot be unfair;
the engine schedules 10^5+ hosts per epoch (bench multi-host frontier),
where this is the regression signal that the two-level pop or a budget
change broke tail service.

Scale shape: ONE partial-aggregated groupBy on host (counts), then a
1-row global aggregate — no window, no join, mergeable partials all the
way; output is a single row regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def scheduling_fairness(
    scheduled: DataFrame, host_col: str = "host"
) -> DataFrame:
    """One row: (n_hosts, n_scheduled, jain_bps, max_share_bps,
    min_share_bps) over the epoch's scheduled set."""
    per_host = scheduled.groupBy(host_col).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    return per_host.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum("x").cast("long").alias("n_scheduled"),
        # (Σx)²·10⁴ passes 2⁶³ once Σx > ~3.0e7, so the ratio is formed
        # in DECIMAL(38,0) (exact to ~1e38, e.g. Σx = 10¹⁰ over 10⁵ hosts)
        F.expr(
            "(cast(sum(x) as decimal(38,0)) * sum(x) * 10000)"
            " div (count(1) * sum(cast(x as decimal(38,0)) * x))"
        )
        .cast("long")
        .alias("jain_bps"),
        F.expr("(max(x) * 10000) div sum(x)").cast("long").alias("max_share_bps"),
        F.expr("(min(x) * 10000) div sum(x)").cast("long").alias("min_share_bps"),
    )
