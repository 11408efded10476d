"""Deterministic random-resized-crop planning for image training epochs.

Vision pretraining re-crops every image every epoch; doing the "random"
draw from a hash of (image_id, epoch) instead of an RNG makes the whole
augmentation schedule a reproducible TABLE — any worker (or a re-run
after preemption) derives the identical crop rect, which is what an
exactly-resumable data pipeline needs (same property the frontier's
checkpoint story relies on).  Crop fractions live in [min_frac%, 100%]
per axis — the RandomResizedCrop shape without the float sqrt, so every
value is exact integer arithmetic and a SQL oracle replays it.

Draws: four independent md5 4-hex-char slices of 'image_id:epoch' (the
engine-portable trick the sketches/bloom battery certifies; 4 slices × 4
chars = 16 hex chars, well inside the 32-char digest).

Scale shape: pure codegen column expressions — ZERO shuffle, zero joins;
epochs explode ×E but E is the epoch count (tens), bounded by config.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hex_slice(key: F.Column, i: int) -> F.Column:
    """i-th independent 4-hex-char draw from md5(key), in [0, 65536)."""
    return F.conv(F.substring(F.md5(key), 1 + 4 * i, 4), 16, 10).cast("long")


def crop_plan(
    images: DataFrame,
    n_epochs: int,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    min_frac_pct: int = 70,
) -> DataFrame:
    """Per (image, epoch): (id, epoch, crop_w, crop_h, x0, y0) with crop
    dims in [min_frac_pct%, 100%] per axis and the origin uniform over the
    valid range — all from hash draws, fully deterministic.

    Integer exactness: dims are (axis · pct) div 100 in BIGINT floor
    division; origins are hash mod (axis − crop + 1)."""
    span = 101 - min_frac_pct  # pct ∈ [min_frac_pct, 100] inclusive
    ep = F.explode(F.sequence(F.lit(0), F.lit(n_epochs - 1))).alias("epoch")
    base = images.select(F.col(id_col), F.col(w_col), F.col(h_col), ep)
    key = F.concat(F.col(id_col), F.lit(":"), F.col("epoch").cast("string"))
    crop_w = F.call_function(
        "div", F.col(w_col) * (min_frac_pct + _hex_slice(key, 0) % span), F.lit(100)
    )
    crop_h = F.call_function(
        "div", F.col(h_col) * (min_frac_pct + _hex_slice(key, 1) % span), F.lit(100)
    )
    with_dims = base.select(
        id_col,
        "epoch",
        w_col,
        h_col,
        crop_w.alias("crop_w"),
        crop_h.alias("crop_h"),
        _hex_slice(key, 2).alias("__u2"),
        _hex_slice(key, 3).alias("__u3"),
    )
    return with_dims.select(
        id_col,
        "epoch",
        "crop_w",
        "crop_h",
        (F.col("__u2") % (F.col(w_col) - F.col("crop_w") + 1))
        .cast("long")
        .alias("x0"),
        (F.col("__u3") % (F.col(h_col) - F.col("crop_h") + 1))
        .cast("long")
        .alias("y0"),
    )
