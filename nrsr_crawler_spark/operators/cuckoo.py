"""Partitioned cuckoo-filter URL-seen set — the third pluggable dedup
regime (SURVEY §2.10 "pluggable seen-set impl (exact / bloom / cuckoo)",
reference `DUPEFILTER_CLASS` at /root/reference/nrsr/settings.py:114).

Same partitioning contract as the Bloom segments (operators/seen.py): the
exact seen table is sharded by ``segment_id = url_hash mod n_segments``;
per segment a compact probabilistic structure answers "maybe seen?" with
ZERO false negatives, so negatives skip the exact anti-join entirely.

Why a cuckoo filter next to Bloom (Fan, Andersen, Kaminsky, Mitzenmacher,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014 — public
construction):

 - **deletion** — a Bloom bitset cannot un-set a key; a cuckoo filter
   removes one stored copy of the key's fingerprint.  That is exactly the
   recrawl/TTL semantic a long-lived frontier needs: expire a URL from the
   seen set and the scheduler re-enqueues it, with no filter rebuild.
 - at the same false-positive rate the fingerprint table is smaller than a
   Bloom bitset below ~3% FP, and probes touch exactly two buckets (2
   cache lines) instead of k scattered bits.

Layout per segment: ``n_buckets × slots`` uint16 fingerprints (0 = empty
slot), n_buckets a power of two so the partial-key alternate bucket is the
xor trick ``i2 = i1 XOR mix(fp)``.  Keys whose insertion fails after the
eviction budget land in a per-segment ``stash`` (array of raw url_hash) —
probed exactly, so the zero-false-negative invariant holds even past the
sized capacity instead of silently dropping keys.

The insert kernel is sequential per segment (cuckoo eviction chains are
inherently order-dependent) — the parallel dimension is the segments,
same as the reference's single-threaded dupefilter sharded N ways.  Probe
and fingerprint computation are fully vectorized numpy over Arrow batches;
no per-row Python crosses the boundary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nrsr_crawler_spark.operators.seen import _mix64, segment_id

CUCKOO_SCHEMA = (
    "segment_id int, n_buckets long, slots int, n_keys long, "
    "stash array<long>, table binary"
)

_MAX_KICKS = 500


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """16-bit partial keys; 0 is reserved for "empty slot" so fp==0 remaps
    to 1 (a 1/65536 density bump, absorbed by the FP-rate math)."""
    fp = (_mix64(hashes.astype(np.uint64)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _bucket1(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    return (
        _mix64(hashes.astype(np.uint64) ^ np.uint64(0xA076_1D64_78BD_642F))
        & np.uint64(n_buckets - 1)
    ).astype(np.int64)


def _alt_bucket(bucket: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    """Partial-key alternate bucket: i XOR mix(fp) — an involution, so the
    probe side needs only (fp, either bucket) and deletion can start from
    whichever bucket holds the copy."""
    return (
        bucket.astype(np.uint64)
        ^ (_mix64(fp.astype(np.uint64)) & np.uint64(n_buckets - 1))
    ).astype(np.int64)


def _insert_batch(
    table: np.ndarray,  # (n_buckets, slots) uint16, mutated
    stash: list,
    hashes: np.ndarray,
    n_buckets: int,
    rng_state: int,
) -> int:
    """Sequential cuckoo insert of a key batch into one segment's table.
    Returns the updated deterministic rng state (an LCG — evictions must
    not depend on wall clock or numpy global state, or resume breaks)."""
    fps = _fingerprints(hashes)
    b1s = _bucket1(hashes, n_buckets)
    i2s = _alt_bucket(b1s, fps, n_buckets)
    state = int(rng_state)
    for j in range(len(hashes)):
        fp = fps[j]
        i1 = int(b1s[j])
        i2 = int(i2s[j])
        # NB: duplicate fingerprint copies are deliberately KEPT (multiset
        # semantics, Fan et al. §3.3): two distinct url_hashes may collide
        # to the same (fp, bucket) pair, and each must hold its own copy or
        # deleting one key would false-negative the other.  The contract is
        # that each KEY is inserted at most once — build_cuckoo_segments
        # inserts each distinct key of the seen table once.
        placed = False
        for i in (i1, i2):
            row = table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                placed = True
                break
        if placed:
            continue
        # evict: random walk bounded by _MAX_KICKS, deterministic LCG
        cur_fp, cur_i = int(fp), i1
        for _ in range(_MAX_KICKS):
            state = (state * 6364136223846793005 + 1442695040888963407) & (
                (1 << 64) - 1
            )
            slot = (state >> 33) % table.shape[1]
            victim = int(table[cur_i, slot])
            table[cur_i, slot] = cur_fp
            cur_fp = victim
            cur_i = int(
                _alt_bucket(np.array([cur_i]), np.array([cur_fp], dtype=np.uint16), n_buckets)[0]
            )
            row = table[cur_i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur_fp
                cur_fp = 0
                break
        if cur_fp:
            # table effectively full for this chain — exact-probed stash
            # keeps correctness; callers should build with more buckets
            # when the stash grows
            stash.append(_stash_key(cur_fp, cur_i))
    return state


def _stash_key(fp: int, bucket: int) -> int:
    """Stash entries store (fp, canonical bucket) — enough to answer probes
    and deletes exactly like an in-table copy (the raw url_hash is not
    recoverable from an evicted fingerprint)."""
    return (int(bucket) << 16) | int(fp)


def _probe_arrays(
    table: np.ndarray, stash: np.ndarray, hashes: np.ndarray, n_buckets: int
) -> np.ndarray:
    """Vectorized membership: fp present in bucket i1 or i2, or in stash."""
    fps = _fingerprints(hashes)
    i1 = _bucket1(hashes, n_buckets)
    i2 = _alt_bucket(i1, fps, n_buckets)
    hit = (table[i1] == fps[:, None]).any(axis=1) | (
        table[i2] == fps[:, None]
    ).any(axis=1)
    if len(stash):
        k1 = (i1 << np.int64(16)) | fps.astype(np.int64)
        k2 = (i2 << np.int64(16)) | fps.astype(np.int64)
        hit |= np.isin(k1, stash) | np.isin(k2, stash)
    return hit


def _seg_state(seg: pd.DataFrame):
    nb = int(seg["n_buckets"].iloc[0])
    sl = int(seg["slots"].iloc[0])
    table = (
        np.frombuffer(seg["table"].iloc[0], dtype=np.uint16)
        .reshape(nb, sl)
        .copy()
    )
    raw_stash = seg["stash"].iloc[0]  # Arrow hands list columns back as
    stash = [] if raw_stash is None else [int(x) for x in raw_stash]  # ndarray
    return table, stash, nb, sl, int(seg["n_keys"].iloc[0])


def _seg_row(seg_id, table, stash, n_keys) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "segment_id": [seg_id],
            "n_buckets": [table.shape[0]],
            "slots": [table.shape[1]],
            "n_keys": [n_keys],
            "stash": [list(map(int, stash))],
            "table": [table.tobytes()],
        }
    )


def build_cuckoo_segments(
    seen: DataFrame,
    n_segments: int = 16,
    n_buckets: int = 1 << 12,
    slots: int = 4,
) -> DataFrame:
    """One cuckoo table per segment from the exact seen table (column
    ``url_hash``).  Deterministic in the key set and arrival order within a
    segment (sorted below, so rebuild-from-table is reproducible —
    north_rule byte-identical resume)."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["segment_id"].iloc[0])
        table = np.zeros((n_buckets, slots), dtype=np.uint16)
        stash: list = []
        h = np.sort(pdf["url_hash"].to_numpy())
        _insert_batch(table, stash, h, n_buckets, rng_state=seg + 1)
        return _seg_row(seg, table, stash, len(h))

    with_seg = seen.select("url_hash").withColumn(
        "segment_id", segment_id(F.col("url_hash"), n_segments)
    )
    return with_seg.groupBy("segment_id").applyInPandas(_build, schema=CUCKOO_SCHEMA)


def delete_cuckoo(
    segments: DataFrame, del_hashes: DataFrame, n_segments: int = 16
) -> DataFrame:
    """Remove one stored copy of each key's fingerprint — the operation a
    Bloom bitset cannot do.  Standard cuckoo-filter caveat applies: only
    delete keys that were actually inserted, else a colliding key's copy is
    removed (documented in Fan et al. §3.3; deleting keys read back from
    the exact seen table satisfies it).
    """

    def _del(key, seg: pd.DataFrame, dels: pd.DataFrame) -> pd.DataFrame:
        seg_id = int(key[0])
        if seg.empty:
            return _seg_row(seg_id, np.zeros((1, 4), dtype=np.uint16), [], 0)
        table, stash, nb, sl, n_keys = _seg_state(seg)
        if not dels.empty:
            h = dels["url_hash"].to_numpy()
            fps = _fingerprints(h)
            i1s = _bucket1(h, nb)
            i2s = _alt_bucket(i1s, fps, nb)
            for j in range(len(h)):
                fp = fps[j]
                removed = False
                for i in (int(i1s[j]), int(i2s[j])):
                    slot = np.nonzero(table[i] == fp)[0]
                    if len(slot):
                        table[i, slot[0]] = 0
                        removed = True
                        break
                if not removed:
                    for i in (int(i1s[j]), int(i2s[j])):
                        k = _stash_key(int(fp), i)
                        if k in stash:
                            stash.remove(k)
                            removed = True
                            break
                if removed:
                    n_keys -= 1
        return _seg_row(seg_id, table, stash, n_keys)

    del_seg = del_hashes.select("url_hash").withColumn(
        "segment_id", segment_id(F.col("url_hash"), n_segments)
    )
    return (
        segments.groupBy("segment_id")
        .cogroup(del_seg.groupBy("segment_id"))
        .applyInPandas(_del, schema=CUCKOO_SCHEMA)
    )


def cuckoo_flag(
    candidates: DataFrame, segments: DataFrame, n_segments: int = 16
) -> DataFrame:
    """Add ``maybe_seen boolean`` (zero false negatives) — cogrouped so each
    task holds exactly one fingerprint table, mirroring seen.bloom_flag."""
    cand_cols = candidates.columns

    def _probe(cand: pd.DataFrame, seg: pd.DataFrame) -> pd.DataFrame:
        if cand.empty:
            return pd.DataFrame(columns=[*cand_cols, "__segment_id", "maybe_seen"]).iloc[:0]
        if seg.empty:
            cand = cand.copy()
            cand["maybe_seen"] = False
            return cand
        table, stash, nb, sl, _ = _seg_state(seg)
        cand = cand.copy()
        cand["maybe_seen"] = _probe_arrays(
            table, np.asarray(stash, dtype=np.int64), cand["url_hash"].to_numpy(), nb
        )
        return cand

    from pyspark.sql.types import BooleanType, StructField, StructType

    cand_seg = candidates.withColumn(
        "__segment_id", segment_id(F.col("url_hash"), n_segments)
    )
    seg_seg = segments.withColumnRenamed("segment_id", "__segment_id")
    probe_schema = StructType(
        list(cand_seg.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    flagged = (
        cand_seg.groupBy("__segment_id")
        .cogroup(seg_seg.groupBy("__segment_id"))
        .applyInPandas(lambda c, s: _probe(c, s), schema=probe_schema)
    )
    return flagged.drop("__segment_id")


def dedup_with_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    segments: DataFrame,
    n_segments: int = 16,
) -> DataFrame:
    """J4 end-to-end under the cuckoo regime: result equals the plain
    anti-join (cuckoo filters have no false negatives; stash covers
    overfull chains), with only maybe-positive rows entering the exact
    check — the same asymmetry as seen.dedup_with_bloom's partitioned
    regime (cogrouped probe, one table per task)."""
    flagged = cuckoo_flag(candidates, segments, n_segments)
    definite_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybes = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybes.join(seen.select("url_hash"), "url_hash", "left_anti")
    return definite_new.unionByName(confirmed_new)
