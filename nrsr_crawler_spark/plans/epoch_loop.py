"""The crawl engine: semi-naive frontier fixpoint as batch epochs
(SURVEY §2.9, §3.1 — the Spark-native replacement for Scrapy's reactor loop).

Per epoch:
  pop (per-host politeness budget, LIFO priority order)
    → fetch (deterministic page-table lookup — the sandbox stand-in for the
       HTTP/Splash stage, SURVEY §2.1 S3/S4)
    → parse (mapInPandas over body bytes: children in document order + items)
    → canonicalize/fingerprint + robots filter (schedule-time, like the
       dupefilter) → in-batch dedup → bloom-pruned anti-join vs seen
    → append deltas (frontier, fetch_log, edges, items, metrics)
    → atomic manifest commit.

Determinism: every column written is a pure function of committed inputs —
``seq`` encodes (epoch, parent_seq, child_idx) bit-packed, NOT
monotonically_increasing_id — so a killed run re-runs its last uncommitted
epoch and converges to identical table contents (north_rule resume).

``seq`` packing bound (hard invariant, guarded): at most 2^parent_bits
popped parents per epoch and 2^child_bits links per page.  Beyond that the
packed lineage would alias, so the engine raises loudly instead of silently
degrading.  Pop order itself stays deterministic regardless (canon_url
tiebreak), but reference-order certification assumes the bound.  Widen
the bits via constructor args for pathological sites.

Ordering equivalence with the reference (north_rule): with
``budget_per_host=1`` on a single-host site the pop order IS the reference's
LIFO depth-first order (tests/test_crawl_golden.py asserts equality with the
simulator).  In bulk mode (budget ≫ 1) epochs are BFS-like waves — the final
seen set is provably identical (dedup is order-insensitive), and
plans/replay.py recomputes the reference fetch order from the logged edge
lineage for certification.

Scale shape (10^10 frontier) — per-epoch work is O(|pending| + |delta|),
never O(crawl history):
  - the PENDING set (enqueued minus fetched) is maintained incrementally:
    pop removes this epoch's batch, the new-candidates delta is appended,
    and ``localCheckpoint`` truncates lineage each epoch — no re-union of
    all historical deltas (that was O(history)·epochs);
  - the SEEN set for the exact dedup check is maintained as an in-memory
    union of per-epoch deltas, collapsed by ``localCheckpoint`` every
    ``_SEEN_COLLAPSE_EVERY`` epochs — no parquet re-read per epoch;
  - pop is the two-level salted window (operators/politeness.py) — immune to
    single-host skew;
  - the seen anti-join probe is bloom-pruned (operators/seen.py); in the
    broadcast regime (seen ≤ ``broadcast_max_keys``) the segment bitsets are
    maintained DRIVER-SIDE: each epoch collects only the O(delta) new hashes,
    ORs them into the numpy bitsets, destroys the old broadcast handle and
    rebroadcasts — zero Spark jobs for filter maintenance.  Past the
    threshold the partitioned cogroup regime takes over, OR-merging segment
    bitsets distributively (O(delta) hashing) with the merged frame
    localCheckpoint-ed so old segments can be unpersisted safely;
  - bitsets are SIZED from the observed seen count (seen.bits_for) with a
    geometric growth factor (``_BLOOM_GROWTH``), and fully rebuilt when the
    key count outgrows the sized capacity — the false-positive rate stays
    at the design target instead of saturating (amortized O(n) over the
    crawl);
  - per-epoch row counts ride on ``Observation`` metrics attached to the
    delta writes — no extra read-back count jobs;
  - at deploy scale the deltas are Iceberg appends with periodic compaction;
    the partitioned-regime exact check becomes a storage-partitioned join
    against the bucket-partitioned seen table (only maybe-positive segments
    read) — the logic above this module is unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nrsr_crawler_spark.functions import urls as U
from nrsr_crawler_spark.lake.table import EpochLake
from nrsr_crawler_spark.operators import frontier as frontier_ops
from nrsr_crawler_spark.operators import parse as parse_ops
from nrsr_crawler_spark.operators import parse_typed as PT
from nrsr_crawler_spark.operators import politeness, robots, seen as seen_ops
from nrsr_crawler_spark.operators import retry as retry_ops
from nrsr_crawler_spark.operators import traps
from nrsr_crawler_spark.sources import compression

FRONTIER_SCHEMA = (
    "url string, canon_url string, url_hash long, host string, host_shard long, "
    "depth int, priority int, seq long, parent_hash long, segment_id int, "
    "tpl_hash long"
)
FETCHLOG_SCHEMA = (
    "url_hash long, canon_url string, seq long, depth int, pop_rank int, "
    "status string, attempt int, content_hash string"
)
EXPIRED_SCHEMA = "url_hash long, mode string, epoch int"
EDGES_SCHEMA = "parent_hash long, parent_seq long, child_idx int, url string, canon_url string, url_hash long"

_SEQ_EPOCH_SHIFT = 40
# the in-memory seen union is collapsed (localCheckpoint) every this many
# epochs; Bloom bitsets are sized for this many times the current key count
_SEEN_COLLAPSE_EVERY = 16
_BLOOM_GROWTH = 8


def _tombstone_keys(urls: DataFrame) -> DataFrame:
    """Distinct ``url_hash`` of the URLs handed to :meth:`CrawlEngine.expire`;
    a frame without ``url_hash`` is canonicalized + fingerprinted from its
    ``url``.  Invalid URLs all hash to xxhash64(NULL) and collapse into one
    group, dropped after the aggregation: a filter directly above
    ``with_canon`` would be pushed into its alias chain (see there)."""
    if "url_hash" in urls.columns:
        return urls.select("url_hash").distinct()
    return (
        U.with_canon(urls, hash_col="url_hash", valid_col="url_ok")
        .groupBy("url_hash")
        .agg(F.bool_or("url_ok").alias("url_ok"))
        .filter(F.col("url_ok"))
        .select("url_hash")
    )


@dataclass
class CrawlStats:
    epochs: int
    fetched: int
    enqueued: int
    items: int
    retried: int = 0
    failed: int = 0
    not_modified: int = 0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        lake_root: str,
        budget_per_host: int = 1,
        robots_rules: list[dict] | None = None,
        num_salts: int = 16,
        n_segments: int = 16,
        use_bloom: bool = True,
        base_url: str = "https://www.nrsr.sk/web/",
        bloom_fp: float = 1e-4,
        broadcast_max_keys: int = 5_000_000,
        seq_parent_bits: int = 20,
        seq_child_bits: int = 20,
        typed_items: bool = True,
        compact_every: int = 64,
        trap_max_urls: int | None = None,
        trap_penalty: int = 1_000_000,
        epoch_seconds: float | None = None,
        host_budgets: dict[str, int] | None = None,
        meta_robots: bool = False,
        age_priority_every: int | None = None,
        max_retries: int = retry_ops.DEFAULT_MAX_RETRIES,
        retry_priority_adjust: int = retry_ops.DEFAULT_PRIORITY_ADJUST,
        http_cache: bool = False,
    ):
        self.spark = spark
        self.lake = EpochLake(lake_root)
        self.budget = budget_per_host
        self.robots_rules = robots_rules or []
        self.num_salts = num_salts
        self.n_segments = n_segments
        self.use_bloom = use_bloom
        self.base_url = base_url
        self.bloom_fp = bloom_fp
        self.broadcast_max_keys = broadcast_max_keys
        self.seq_parent_bits = seq_parent_bits
        self.seq_child_bits = seq_child_bits
        self.typed_items = typed_items
        self.compact_every = compact_every
        # crawl-trap guard (operators/traps.py): when set, templates whose
        # frontier population exceeds trap_max_urls are demoted by
        # trap_penalty at pop time.  Counting is O(delta) per epoch (only
        # newly enqueued rows aggregate; the running (tpl_hash, n) store
        # merges like the seen set) and demotion is a broadcast join on the
        # stored 8-byte tpl_hash — no strings at schedule time.
        self.trap_max_urls = trap_max_urls
        self.trap_penalty = trap_penalty
        # page-level robots directives (<meta name="robots">): nofollow
        # pages contribute no children, noindex pages contribute no items.
        # Default OFF = reference parity (Scrapy 1.5 ignores meta robots
        # unless an extension handles it); when off the hot loop pays
        # nothing — the gate columns are never computed.
        self.meta_robots = meta_robots
        # frontier priority aging (anti-starvation, standard in production
        # crawlers): a pending URL gains +1 priority per ``age_priority_every``
        # epochs waited.  Age derives from the epoch bits already packed in
        # ``seq`` (enqueue epoch = seq >> _SEQ_EPOCH_SHIFT), so the aging
        # term is a pure map-side expression over columns ALREADY in the
        # slim pop exchange — zero extra state, joins, or shuffled bytes.
        # None (default) = reference parity: pure priority-then-LIFO, where
        # a hot branch can starve old discoveries indefinitely.
        self.age_priority_every = age_priority_every
        self._priority_boosts: DataFrame | None = None
        # robots Crawl-delay → per-host pop budgets (operators/robots.py):
        # with an epoch wall-clock window of epoch_seconds, a host declaring
        # delay δ absorbs ⌊epoch_seconds/δ⌋ serialized fetches per epoch.
        # Compiled once into a when-chain budget column; None ⇒ flat budget.
        self._budget_expr = None
        per_host: dict[str, int] = {}
        if epoch_seconds is not None and self.robots_rules:
            per_host.update(
                robots.crawl_delay_budgets(
                    self.robots_rules, epoch_seconds, budget_per_host
                )
            )
        # explicit per-host budget overrides (e.g. the collected output of
        # politeness.autothrottle_budgets — Scrapy AutoThrottle parity,
        # /root/reference/nrsr/settings.py:94-103): take precedence over
        # Crawl-delay-derived budgets, bounded driver-side state (O(hosts),
        # same footprint as Scrapy's per-slot delay dict)
        if host_budgets:
            per_host.update(host_budgets)
        if per_host:
            self._budget_expr = robots.budget_expr(
                per_host, budget_per_host, F.col("host")
            )
        if seq_parent_bits + seq_child_bits > _SEQ_EPOCH_SHIFT:
            raise ValueError(
                f"seq_parent_bits + seq_child_bits must fit below the epoch "
                f"shift ({_SEQ_EPOCH_SHIFT} bits)"
            )
        # fetch-failure retries (Scrapy RetryMiddleware parity, operators/
        # retry.py): a page whose optional ``fail_times`` metadata exceeds
        # the current attempt counts as a transient 5xx — re-scheduled with
        # the SAME lineage seq and ``retry_priority_adjust`` applied, up to
        # ``max_retries`` extra attempts, then logged status='failed'.
        self.max_retries = max_retries
        self.retry_priority_adjust = retry_priority_adjust
        # HTTP-cache revalidation (HTTPCACHE_STORAGE is configured in the
        # reference, /root/reference/nrsr/settings.py:115, with the cache
        # switch left at Scrapy's default OFF — same default here): when on,
        # a REFETCHED page whose body validator (md5 content hash, the
        # ETag/Last-Modified stand-in for the deterministic page table)
        # matches its last logged fetch is a 304 — logged status=
        # 'not_modified' and SKIPPED by parse/children/items, so a refresh
        # crawl over a mostly-unchanged site costs fetch + hash, not
        # re-extraction.  Off = every popped page parses (reference parity).
        self.http_cache = http_cache
        # page table keyed by canonical fingerprint (the deterministic "server").
        # Content-encoding (gzip/deflate) is inflated HERE, once, at the source
        # boundary (HttpCompressionMiddleware parity, sources/compression.py) —
        # the epoch loop and parse kernels always see plain bytes.
        pages = compression.inflate_bodies(pages)
        pages_path = str(self.lake.root / "pages")
        pages.withColumn("page_canon", U.canonicalize(F.col("url"))).withColumn(
            "page_hash", U.url_hash(F.col("page_canon"))
        ).write.mode("overwrite").parquet(pages_path)
        self.pages = spark.read.parquet(pages_path)
        self._retries_enabled = "fail_times" in self.pages.columns

    # -- helpers -------------------------------------------------------------
    def _child_seq(self, epoch: int):
        """Packed child seq: (epoch, parent pop ordinal, child_idx).

        The parent component is the parent's GLOBALLY UNIQUE per-epoch pop
        ordinal (``grk`` — dense rank over (host, per-host rk), computed in
        run()), NOT the per-host ``rk``: on a multi-host crawl parents on
        different hosts share per-host ranks, so packing ``rk`` would alias
        their children's seq values and silently break the "lineage seq never
        aliases" invariant off the single-host path.  Using the dense global
        ordinal keeps the guard exact: the packed space overflows iff
        n_popped > 2^parent_bits, which run() checks directly.  In-batch
        "min seq wins" prefers the child of the earliest parent in the
        deterministic (host, rk) serialization — identical to pop order on a
        single host, a valid serialization of the parallel pops otherwise."""
        return (
            (F.lit(epoch + 1).cast("long") * (1 << _SEQ_EPOCH_SHIFT))
            + (F.col("parent_rank").cast("long") - 1) * (1 << self.seq_child_bits)
            + F.least(F.col("child_idx"), F.lit((1 << self.seq_child_bits) - 1))
        )

    @staticmethod
    def _with_global_rank(popped: DataFrame) -> DataFrame:
        """Attach ``grk``: a dense 1-based ordinal over this epoch's popped
        parents, unique ACROSS hosts (ADVICE r2: per-host ``rk`` aliases on
        multi-host crawls).  Computed as host-offset + rk where offsets are a
        prefix sum over per-host pop counts ordered by host — one tiny
        aggregate (≤ one row per distinct host this epoch) + a broadcast
        join; the unpartitioned window runs over that host-count frame, not
        the batch, so the single-task sort is O(hosts), never O(popped)."""
        from pyspark.sql import Window

        counts = popped.groupBy("host").agg(F.count(F.lit(1)).alias("__cnt"))
        w = Window.orderBy("host").rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.select(
            "host", F.coalesce(F.sum("__cnt").over(w), F.lit(0)).alias("__off")
        )
        return (
            popped.join(F.broadcast(offsets), "host")
            .withColumn("grk", (F.col("__off") + F.col("rk")).cast("int"))
            .drop("__off")
        )

    def _finish_frontier_cols(self, df: DataFrame) -> DataFrame:
        return df.select(
            "url",
            "canon_url",
            "url_hash",
            "host",
            U.host_shard(F.col("host"), F.col("url_hash"), num_shards=64, salt=self.num_salts).alias("host_shard"),
            "depth",
            "priority",
            "seq",
            "parent_hash",
            seen_ops.segment_id(F.col("url_hash"), self.n_segments).alias("segment_id"),
            # (host, digit-run template) fingerprint — 8 bytes/row buys the
            # trap guard string-free schedule-time demotion (operators/traps)
            traps.tpl_hash(F.col("host"), F.col("canon_url")).alias("tpl_hash"),
        )

    def expire(self, urls: DataFrame, mode: str = "refetch") -> int:
        """Tombstone URLs for recrawl/TTL — the selective version of the
        reference's "clear the dupefilter and re-run" incremental workflow
        (DUPEFILTER_CLASS, /root/reference/nrsr/settings.py:114; the
        spiders' own date-cutoff incremental predicates re-visit listing
        pages the same way).

        - ``mode="refetch"``: keep frontier + seen membership, clear the
          fetched status — the next run() pops the URL again (content
          refresh without re-discovery).
        - ``mode="forget"``: evict from frontier AND the seen set — the URL
          behaves as never discovered and is re-enqueued only when some
          refetched page links to it again (TTL eviction; bounds seen-set
          growth on unbounded crawls).

        ``urls`` needs a ``url_hash`` column, or a ``url`` column which is
        canonicalized + fingerprinted here.  Tombstones are appended to an
        ``expired`` lake table (Iceberg delete-file shaped) and applied as
        O(|tombstones|) anti-joins at run() start.  Expiry takes effect at
        the next run(): it rebuilds the seen set and its Bloom filter from
        the frontier left after the "forget" anti-join, so no filter ever
        needs a key deleted.
        """
        if mode not in ("refetch", "forget"):
            raise ValueError(f"mode must be 'refetch' or 'forget', got {mode!r}")
        epoch = self.lake.last_committed()
        if epoch < 0:
            raise ValueError("nothing crawled yet — expire() needs a committed lake")
        from pathlib import Path

        new = _tombstone_keys(urls).withColumn("mode", F.lit(mode))
        n = new.count()
        # A tombstone is SCOPED to its epoch: it clears only state written at
        # epochs <= its own (run() applies it with an epoch-bounded
        # anti-join), so a refetch tombstone does not keep re-clearing the
        # refetch it caused.  Same-epoch tombstones share a scope → merge
        # into one delta; earlier epochs' deltas stay untouched.
        path = Path(self.lake.delta_path("expired", epoch))
        if path.exists():
            cur = self.spark.read.parquet(str(path)).select("url_hash", "mode")
            new = cur.unionByName(new).distinct()
        # materialize before overwriting the delta we may be reading from
        new = new.localCheckpoint()
        self.lake.write_delta("expired", new, epoch)
        return n

    def expire_older_than(self, max_age_epochs: int, mode: str = "refetch") -> int:
        """TTL policy over fetch age: tombstone every URL whose LATEST fetch
        is ≥ ``max_age_epochs`` epochs before the current head — e.g.
        ``expire_older_than(0)`` schedules a full refetch, ``(10)`` refreshes
        anything not fetched in the last 10 epochs.  Thin wrapper over
        :meth:`expire`; same modes."""
        cur = self.lake.last_committed()
        if cur < 0:
            raise ValueError("nothing crawled yet")
        # read_merged: the latest-fetch base + tail is exactly what the TTL
        # groupBy needs (max-epoch per url_hash) — O(base+tail), not O(history)
        log = self.lake.read_merged(
            self.spark, "fetch_log", schema=FETCHLOG_SCHEMA + ", epoch int"
        )
        old = (
            log.groupBy("url_hash")
            .agg(F.max("epoch").alias("last_epoch"))
            .filter(F.col("last_epoch") <= cur - max_age_epochs)
            .select("url_hash")
        )
        return self.expire(old, mode=mode)

    def set_priority_boosts(self, boosts: DataFrame | None) -> None:
        """Install additive per-URL pop-priority boosts: (url_hash:long,
        boost:long).  Applied to the pending set before every pop (and
        before trap demotion, so the trap penalty still dominates).  Pass
        None to clear.  The table is materialized once (localCheckpoint) —
        it's consulted every epoch."""
        self._priority_boosts = (
            None
            if boosts is None
            else boosts.select("url_hash", F.col("boost").cast("long").alias("boost"))
            .localCheckpoint()
        )

    def pagerank_boosts(self, iterations: int = 3, scale: int = 100) -> DataFrame:
        """Authority boosts from the crawl's own link graph: integer
        PageRank (operators/linkrank.py) over the edges table
        (parent_hash → url_hash), normalized so a node of average rank gets
        ``scale`` boost units (boost = rank·N·scale div S — exact integer).
        Feed into :meth:`set_priority_boosts` and keep crawling: the next
        pops prefer high-authority pages.  Reads all edge deltas — an
        occasional admin op, like :meth:`recrawl_candidates`."""
        from nrsr_crawler_spark.operators import linkrank

        edges = self.lake.read_all(self.spark, "edges").select(
            F.col("parent_hash").alias("src"), F.col("url_hash").alias("dst")
        )
        ranks = linkrank.pagerank_fixed(edges, iterations=iterations)
        n = ranks.count()
        # boost ≈ rank·n·scale/S, computed as (rank·scale) div (S div n) so
        # the intermediate never exceeds S·scale — safe in int64 at any n
        return ranks.select(
            F.col("node").alias("url_hash"),
            F.expr(f"(rank * {scale}) div {max(1, linkrank.SCALE // n)}").alias("boost"),
        )

    def yield_boosts(self, scale: int = 100) -> DataFrame:
        """Focused-crawl value boosts (the classic value-ordered frontier:
        Chakrabarti et al. focused crawling, Cho & Garcia-Molina URL
        ordering): URL templates that historically produced items get
        scheduled first.  Per template, boost = ``scale · items div
        fetched_pages`` (exact integer); every known URL inherits its
        template's boost through the stored 8-byte ``tpl_hash``, so pending
        never-fetched URLs are prioritized by what SIMILAR URLs yielded.
        Feed into :meth:`set_priority_boosts` and keep crawling.

        Reads the compacted frontier/fetch_log bases + item deltas — an
        occasional admin op like :meth:`pagerank_boosts`, O(known URLs)."""
        frontier = self.lake.read_merged(self.spark, "frontier").select(
            "url_hash", "tpl_hash"
        )
        fetched = (
            self.lake.read_merged(
                self.spark, "fetch_log", schema=FETCHLOG_SCHEMA + ", epoch int"
            )
            .filter(F.col("status") == "ok")
            .select("url_hash")
            .distinct()
        )
        items = self.lake.read_all(
            self.spark,
            "items",
            schema="url_hash long, canon_url string, payload string, image_id string",
        ).groupBy("url_hash").agg(F.count(F.lit(1)).alias("__n_items"))
        per_tpl = (
            fetched.join(frontier, "url_hash")
            .join(items, "url_hash", "left")
            .groupBy("tpl_hash")
            .agg(
                F.count(F.lit(1)).alias("__n_fetched"),
                F.sum(F.coalesce(F.col("__n_items"), F.lit(0))).alias("__items"),
            )
            .select(
                "tpl_hash",
                F.expr(f"({scale} * __items) div __n_fetched").alias("boost"),
            )
            .filter(F.col("boost") > 0)
        )
        return frontier.join(per_tpl, "tpl_hash").select("url_hash", "boost")

    def recrawl_candidates(self) -> DataFrame:
        """Freshness-ranked revisit candidates (operators/recrawl.py): the
        revisit log is the FULL fetch history × the page table's content
        hash (md5 of the body as fetched — the deterministic page table
        stands in for stored snapshots), so URLs whose content changed
        between past fetches rank above never-changing ones, with an
        explore bonus for single-visit URLs.  Feed the top-k into
        :meth:`expire` (mode='refetch').  Reads all fetch_log deltas — an
        occasional admin op like :meth:`expire_older_than`(0), O(history)."""
        from nrsr_crawler_spark.operators import recrawl as recrawl_ops

        log = self.lake.read_all(self.spark, "fetch_log").select("url_hash", "epoch")
        body = self.pages.select(
            F.col("page_hash").alias("url_hash"), F.md5(F.col("body")).alias("content_hash")
        )
        return recrawl_ops.change_rate_priority(log.join(body, "url_hash"))

    def compact(self) -> None:
        """Rewrite the merge-on-read acceleration bases (VERDICT r2 #2/#4):
        the latest-per-key projection of every keyed store as of the last
        committed epoch, so subsequent ``read_merged`` reads touch O(base +
        tail) files instead of O(all epochs).  Deltas remain the authoritative
        history (replay/fetch_order certification untouched) — this is the
        parquet stand-in for Iceberg ``rewrite_data_files``.

        Keys: ``frontier``/``fetch_log`` by ``url_hash`` (a tombstone only
        ever needs the LATEST row per URL — an older row is either superseded
        by the newer one or removed by the same epoch-bounded anti-join, so
        the latest-row base is read-equivalent to full history for every
        consumer except fetch_order, which reads raw deltas); ``items_*`` by
        the type's natural key (same window typed_store applies on read).

        Run automatically every ``compact_every`` epochs; idempotent and
        crash-safe (a base commits via marker file AFTER its parquet write)."""
        from pyspark.sql import Window

        from nrsr_crawler_spark.operators import merge_sink

        upto = self.lake.last_committed()
        if upto < 0:
            return

        def latest_per(table: str, keys: list, schema: str | None = None) -> None:
            df = self.lake.read_merged(self.spark, table, schema=schema)
            order = [F.col("epoch").desc()] + (
                [F.col("url").desc()] if "url" in df.columns else []
            )
            w = Window.partitionBy(*keys).orderBy(*order)
            base = (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            self.lake.write_base(table, base, upto)

        from pathlib import Path

        if Path(self.lake.delta_path("frontier", 0)).exists() or self.lake.base_upto("frontier") >= 0:
            latest_per("frontier", ["url_hash"])
        latest_per("fetch_log", ["url_hash"], schema=FETCHLOG_SCHEMA + ", epoch int")
        for p in sorted(self.lake.root.iterdir()):
            if p.is_dir() and p.name.startswith("items_"):
                item_type = p.name[len("items_"):]
                latest_per(p.name, list(merge_sink.natural_keys_for(item_type)))

    def enqueue_seeds(self, seeds: list[str]) -> None:
        rows = [(u, i) for i, u in enumerate(seeds)]
        raw = self.spark.createDataFrame(rows, "url string, seq long").select(
            "url",
            U.canonicalize(F.col("url")).alias("canon_url"),
            "seq",
            F.lit(0).alias("depth"),
            F.lit(0).alias("priority"),
            F.lit(None).cast("long").alias("parent_hash"),
        ).filter(F.col("canon_url").isNotNull()).withColumn(
            "url_hash", U.url_hash(F.col("canon_url"))
        ).withColumn("host", U.url_host(F.col("canon_url")))
        if self.robots_rules:
            raw = raw.filter(robots.allowed_expr(self.robots_rules, F.col("canon_url"), F.col("host")))
        # dupefilter applies to seeds too: first-scheduled wins
        raw = frontier_ops.prepare_in_batch(raw)
        delta = self._finish_frontier_cols(raw)
        self.lake.write_delta("frontier", delta, 0)
        n = delta.count()
        self.lake.commit(0, {"kind": "seed", "enqueued": n, "popped": 0, "items": 0, "edges": 0})

    def enqueue_sitemaps(self, sitemap_pages: DataFrame) -> int:
        """Seed/extend the frontier from sitemap documents (sources/sitemap):
        parse → canonicalize → freshest-lastmod per URL → anti-join against
        the existing frontier (a sitemap re-listing a known URL must not
        duplicate its pending row) → append one frontier delta with
        freshness priorities, so recently-modified content pops first.

        Works on a fresh lake (commits epoch 0, replacing seed enqueue) or
        mid-crawl (appends at the next epoch — the standard periodic sitemap
        refresh).  ``seq`` is a packed (epoch, batch-rank) — the rank comes
        from ONE global sort of the batch (priority DESC, url_hash), fine
        for protocol-sized feeds (≤50k URLs/sitemap; chunk multi-10^7-URL
        feeds across calls).  Returns the number of URLs enqueued."""
        from pyspark.sql import Window

        from nrsr_crawler_spark.sources.sitemap import sitemap_candidates

        epoch = self.lake.last_committed() + 1
        cand = sitemap_candidates(sitemap_pages)
        if self.robots_rules:
            cand = cand.filter(
                robots.allowed_expr(self.robots_rules, F.col("canon_url"), F.col("host"))
            )
        if epoch > 0:
            seen = self.lake.read_merged(self.spark, "frontier").select("url_hash")
            cand = cand.join(seen, "url_hash", "left_anti")
        rk = F.row_number().over(
            Window.orderBy(F.col("priority").desc(), F.col("url_hash"))
        )
        raw = cand.select(
            F.col("canon_url").alias("url"),  # already canonical
            "canon_url",
            "url_hash",
            "host",
            F.lit(0).alias("depth"),
            "priority",
            (
                F.lit(epoch + 1).cast("long") * (1 << _SEQ_EPOCH_SHIFT)
                + rk.cast("long")
            ).alias("seq"),
            F.lit(None).cast("long").alias("parent_hash"),
        )
        delta = self._finish_frontier_cols(raw)
        self.lake.write_delta("frontier", delta, epoch)
        n = delta.count()
        self.lake.commit(
            epoch, {"kind": "sitemap", "enqueued": n, "popped": 0, "items": 0, "edges": 0}
        )
        return n

    # -- bloom state ----------------------------------------------------------
    def _bloom_params(self, n_keys: int) -> tuple[int, int, int]:
        """(per-segment m_bits, k, capacity_keys) sized for ``n_keys`` keys
        with geometric headroom — the filter holds its design FP rate until
        the seen set outgrows ``capacity_keys`` and triggers a rebuild."""
        capacity = max(n_keys, 1024) * _BLOOM_GROWTH
        per_seg = max(capacity // self.n_segments, 64)
        m_bits, k = seen_ops.bits_for(per_seg, self.bloom_fp)
        # byte-align so tobytes()/frombuffer round-trips exactly
        m_bits = (m_bits + 7) // 8 * 8
        return m_bits, k, capacity

    def _build_bloom(self, seen: DataFrame, n_keys: int) -> None:
        """(Re)build segment bitsets sized for the current seen set.

        Broadcast regime: distributed build job, bitsets collected once and
        kept as driver-side numpy arrays + a broadcast handle.  Partitioned
        regime: bitsets stay distributed (localCheckpoint-ed DataFrame)."""
        m_bits, k, capacity = self._bloom_params(n_keys)
        self._bloom_capacity = capacity
        segs = seen_ops.build_segments(seen, self.n_segments, m_bits=m_bits, k=k)
        self._use_bcast = n_keys <= self.broadcast_max_keys
        if self._use_bcast:
            if self._seg_bc is not None:
                self._seg_bc.destroy()
            import numpy as np

            self._seg_arrays = {
                int(r["segment_id"]): (np.frombuffer(r["bits"], dtype=np.uint8).copy(), int(r["m"]), int(r["k"]))
                for r in segs.collect()
            }
            self._seg_bc = self.spark.sparkContext.broadcast(
                {s: (a, m, kk) for s, (a, m, kk) in self._seg_arrays.items()}
            )
            if self._segments is not None:
                self._segments.unpersist()
                self._segments = None
        else:
            old = self._segments
            self._segments = segs.localCheckpoint()
            if old is not None:
                old.unpersist()
            if self._seg_bc is not None:
                self._seg_bc.destroy()
                self._seg_bc = None
                self._seg_arrays = None

    def _merge_bloom(self, new_hashes: DataFrame, seen: DataFrame, seen_count: int) -> None:
        """Fold this epoch's new keys into the filter at O(delta) cost, or
        rebuild (resize) when the seen set outgrew the sized capacity."""
        if seen_count > self._bloom_capacity or (self._use_bcast and seen_count > self.broadcast_max_keys):
            self._build_bloom(seen, seen_count)
            return
        if self._use_bcast:
            # driver-side OR: collect only the delta hashes (O(n_new)),
            # update the arrays, destroy the stale broadcast, rebroadcast.
            import numpy as np

            hs = np.array([r[0] for r in new_hashes.select("url_hash").collect()], dtype=np.int64)
            seg_ids = (hs % np.int64(self.n_segments) + self.n_segments) % np.int64(self.n_segments)
            for seg in np.unique(seg_ids):
                entry = self._seg_arrays.get(int(seg))
                if entry is None:
                    m_bits, k, _ = self._bloom_params(self._bloom_capacity // _BLOOM_GROWTH)
                    entry = (np.zeros(m_bits // 8, dtype=np.uint8), m_bits, k)
                    self._seg_arrays[int(seg)] = entry
                bits, m, k = entry
                mask = seg_ids == seg
                seen_ops._set_bits(bits, seen_ops._positions(hs[mask], m, k))
            self._seg_bc.destroy()
            self._seg_bc = self.spark.sparkContext.broadcast(
                {s: (a, m, kk) for s, (a, m, kk) in self._seg_arrays.items()}
            )
        else:
            merged = seen_ops.merge_segments(
                self._segments, new_hashes, self.n_segments
            ).localCheckpoint()  # materialize BEFORE dropping the old state
            self._segments.unpersist()
            self._segments = merged

    # -- the loop ------------------------------------------------------------
    def run(self, seeds: list[str] | None = None, max_epochs: int = 100000) -> CrawlStats:
        if self.lake.last_committed() < 0:
            if seeds is None:
                raise ValueError("fresh lake needs seeds")
            self.enqueue_seeds(seeds)

        # one-time state build: O(base + tail) on resume (read_merged — the
        # compacted latest-per-url base plus post-base deltas), O(seeds) fresh.
        frontier_all = self.lake.read_merged(self.spark, "frontier")
        if "tpl_hash" not in frontier_all.columns:
            # lake written before the trap-guard column existed: backfill
            # map-side from the stored canon (schema evolution, no rewrite)
            frontier_all = frontier_all.withColumn(
                "tpl_hash", traps.tpl_hash(F.col("host"), F.col("canon_url"))
            )
        fetched_log = self.lake.read_merged(
            self.spark, "fetch_log", schema=FETCHLOG_SCHEMA + ", epoch int"
        )
        if "status" not in fetched_log.columns:
            # lake written before retry semantics existed: backfill (every
            # logged fetch was a single successful attempt)
            fetched_log = fetched_log.withColumn("status", F.lit("ok")).withColumn(
                "attempt", F.lit(0)
            )
        if "content_hash" not in fetched_log.columns:
            # lake written before http-cache revalidation existed: no
            # validator recorded → every refetch re-parses (correct, just
            # cache-cold)
            fetched_log = fetched_log.withColumn(
                "content_hash", F.lit(None).cast("string")
            )
        # http-cache validators must be captured BEFORE tombstones clear the
        # fetch status below — a refetch tombstone is exactly the row whose
        # prior hash the revalidation check needs.  Latest hash per URL from
        # the compacted base + tail; materialized once per run.
        prior_hashes = None
        if self.http_cache:
            prior_hashes = (
                fetched_log.filter(F.col("content_hash").isNotNull())
                .groupBy("url_hash")
                .agg(F.max(F.struct("epoch", "content_hash")).alias("w"))
                .select("url_hash", F.col("w.content_hash").alias("__prior_hash"))
                .localCheckpoint()
            )
        # recrawl/TTL tombstones (see expire()): 'forget' evicts the URL from
        # frontier+seen entirely (re-enqueued only on re-discovery); both
        # modes clear its fetched status so surviving frontier entries become
        # pending again.  Each tombstone applies only to state from epochs
        # <= its own (else a refetch tombstone would re-clear the refetch it
        # caused).  Anti-joins are O(|tombstones|) — Iceberg delete-file
        # shaped, not a rewrite of history.
        expired = self.lake.read_all(self.spark, "expired", schema=EXPIRED_SCHEMA)
        forget_keys = expired.filter(F.col("mode") == "forget").select(
            F.col("url_hash").alias("__exp_hash"), F.col("epoch").alias("__exp_epoch")
        )
        frontier_all = frontier_all.join(
            forget_keys,
            (F.col("url_hash") == F.col("__exp_hash"))
            & (F.col("epoch") <= F.col("__exp_epoch")),
            "left_anti",
        )
        exp_keys = expired.select(
            F.col("url_hash").alias("__exp_hash"), F.col("epoch").alias("__exp_epoch")
        )
        fetched_log = fetched_log.join(
            exp_keys,
            (F.col("url_hash") == F.col("__exp_hash"))
            & (F.col("epoch") <= F.col("__exp_epoch")),
            "left_anti",
        )
        pending = frontier_all.drop("epoch").join(
            fetched_log.select("url_hash"), "url_hash", "left_anti"
        ).localCheckpoint()
        seen = frontier_all.select("url_hash").localCheckpoint()
        seen_count = seen.count()
        self._segments = None
        self._seg_bc = None
        self._seg_arrays = None
        self._use_bcast = True
        if self.use_bloom:
            self._build_bloom(seen, seen_count)
        epochs_since_collapse = 0

        # trap guard: running (tpl_hash, n) counts — one bounded aggregate
        # over the resume-time frontier, then O(delta) merges per epoch
        tpl_counts = None
        if self.trap_max_urls is not None:
            tpl_counts = (
                frontier_all.groupBy("tpl_hash")
                .agg(F.count(F.lit(1)).alias("n"))
                .localCheckpoint()
            )

        total_fetched = total_enqueued = total_items = 0
        total_retried = total_failed = total_not_modified = 0
        # mid-retry side state: (url_hash, attempt) — bounded by URLs whose
        # last fetch failed transiently (≤ one pop batch), NOT crawl history.
        # Driver-session-scoped: on crash/resume, in-flight retry counters
        # reset to attempt 0 (same restart semantics as the reference's
        # Scrapy process — retry counts live on the in-memory Request).
        retry_state = (
            self.spark.createDataFrame([], "url_hash long, attempt int")
            if self._retries_enabled
            else None
        )
        retry_state_live = False  # becomes True at the first transient failure
        parent_cap = 1 << self.seq_parent_bits
        child_cap = 1 << self.seq_child_bits
        for _ in range(max_epochs):
            epoch = self.lake.last_committed() + 1
            # slim pop: the two window exchanges over the WHOLE pending set
            # carry only (url_hash, host, priority, seq) — the full rows
            # (url/canon/lineage strings) rejoin via broadcast of the
            # ≤ budget×hosts winners.  Order is total without strings:
            # ``seq`` is unique by construction (packed lineage) and the
            # fingerprint tiebreak covers any future non-unique seq source.
            to_pop = pending
            if self.age_priority_every:
                to_pop = to_pop.withColumn(
                    "priority",
                    F.expr(
                        f"priority + (({epoch} - (seq >> {_SEQ_EPOCH_SHIFT})) "
                        f"div {self.age_priority_every})"
                    ),
                )
            if self._priority_boosts is not None:
                # rank-informed crawl ordering (operators/linkrank.py):
                # additive per-URL boost joined on the 8-byte fingerprint —
                # hash-key equi-join co-partitioned with the pending set
                # (boosts are O(known URLs), so NOT broadcast); column
                # pruning keeps the join payload at (url_hash, boost)
                to_pop = (
                    to_pop.join(self._priority_boosts, "url_hash", "left")
                    .withColumn(
                        "priority",
                        F.col("priority") + F.coalesce(F.col("boost"), F.lit(0)),
                    )
                    .drop("boost")
                )
            if tpl_counts is not None:
                # demote exploding URL shapes BEFORE the pop windows: the
                # flagged set is a handful of (tpl_hash) longs (shapes, not
                # URLs) — broadcast left join + map-side priority adjust,
                # nothing extra crosses the window exchanges
                flagged = tpl_counts.filter(
                    F.col("n") > self.trap_max_urls
                ).select("tpl_hash", F.lit(True).alias("__trapped"))
                to_pop = (
                    to_pop.join(F.broadcast(flagged), "tpl_hash", "left")
                    .withColumn(
                        "priority",
                        F.when(
                            F.col("__trapped"), F.col("priority") - self.trap_penalty
                        ).otherwise(F.col("priority")),
                    )
                    .drop("__trapped")
                )
            popped = politeness.pop_budget_slim(
                to_pop,
                budget=self._budget_expr if self._budget_expr is not None else self.budget,
                num_salts=self.num_salts,
                tiebreak_cols=["url_hash"],
            ).persist()
            n_popped = popped.count()
            if n_popped == 0:
                popped.unpersist()
                break
            # grk: globally unique per-epoch parent ordinal for seq packing
            # (per-host rk aliases across hosts — ADVICE r2).  Lazy broadcast
            # join on top of the persisted pop result.
            batch = self._with_global_rank(popped)

            page_cols = [F.col("page_hash").alias("url_hash"), "body"]
            if self._retries_enabled:
                page_cols.append("fail_times")
            fetched_raw = batch.join(self.pages.select(*page_cols), "url_hash", "left")
            if self._retries_enabled:
                # RetryMiddleware semantics: attempt index from the tiny
                # broadcast side state; a transient failure either re-enters
                # pending (attempt < max_retries) or gives up ('failed').
                fetched_raw = (
                    fetched_raw.join(
                        F.broadcast(retry_state.withColumnRenamed("attempt", "__ra")),
                        "url_hash",
                        "left",
                    )
                    .withColumn("__att", F.coalesce(F.col("__ra"), F.lit(0)))
                    .withColumn(
                        "__transient",
                        retry_ops.is_transient_failure(
                            F.col("__att"), F.col("fail_times")
                        ),
                    )
                    .drop("__ra")
                )
            else:
                fetched_raw = fetched_raw.withColumn(
                    "__att", F.lit(0)
                ).withColumn("__transient", F.lit(False))
            if self.http_cache:
                # 304 revalidation: prior validators pruned to this batch by
                # a broadcast semi-join (never shuffles the O(seen) hash
                # table), then broadcast back onto the batch.  The validator
                # is md5(body) — one JVM pass, only when the cache is on.
                prior_batch = prior_hashes.join(
                    F.broadcast(batch.select("url_hash")), "url_hash", "left_semi"
                )
                fetched_raw = (
                    fetched_raw.join(F.broadcast(prior_batch), "url_hash", "left")
                    .withColumn(
                        "__cur_hash",
                        F.when(F.col("body").isNotNull(), F.md5(F.col("body"))),
                    )
                    .withColumn(
                        "__not_modified",
                        (~F.col("__transient"))
                        & F.col("__cur_hash").isNotNull()
                        & F.col("__prior_hash").isNotNull()
                        & (F.col("__cur_hash") == F.col("__prior_hash")),
                    )
                    .drop("__prior_hash")
                )
            else:
                fetched_raw = fetched_raw.withColumn(
                    "__cur_hash", F.lit(None).cast("string")
                ).withColumn("__not_modified", F.lit(False))
            if self.typed_items:
                # ONE dialect-tag pass per body (VERDICT r2 finding #3): every
                # typed extractor below filters on this cached column instead
                # of re-scanning the full body per dialect
                fetched_raw = fetched_raw.withColumn(
                    "__kind", PT.kind_expr(F.col("body"))
                )
            fetched_raw = fetched_raw.persist()
            if self._retries_enabled:
                # one tiny agg (also materializes the cache pre-fan-out)
                r = fetched_raw.agg(
                    F.sum(
                        (F.col("__transient") & (F.col("__att") < self.max_retries)).cast("int")
                    ).alias("nr"),
                    F.sum(
                        (F.col("__transient") & (F.col("__att") >= self.max_retries)).cast("int")
                    ).alias("nf"),
                ).collect()[0]
                n_retry, n_gaveup = int(r.nr or 0), int(r.nf or 0)
            else:
                n_retry = n_gaveup = 0
            retry_again = F.col("__transient") & (F.col("__att") < F.lit(self.max_retries))
            # successes + exhausted failures are DONE (logged); re-scheduled
            # attempts never reach the log, so they stay pending
            fetched = fetched_raw.filter(~F.col("__transient"))
            # 304s are logged but feed neither children nor items — their
            # prior extraction is still current by definition
            fresh = (
                fetched.filter(~F.col("__not_modified"))
                if self.http_cache
                else fetched
            )

            # meta-robots gate (one JVM regexp per body, only when enabled):
            # nofollow pages feed no children, noindex pages feed no items
            if self.meta_robots:
                directives = F.lower(
                    F.regexp_extract(
                        F.col("body").cast("string"),
                        r'<meta[^>]*name="robots"[^>]*content="([^"]*)"',
                        1,
                    )
                )
                fresh = fresh.withColumn("__meta_robots", directives)
                child_src = fresh.filter(
                    ~F.col("__meta_robots").contains("nofollow")
                )
                item_src = fresh.filter(
                    ~F.col("__meta_robots").contains("noindex")
                )
            else:
                child_src = item_src = fresh

            # children: resolve reference-style (absolute pass-through, else
            # BASE_URL concat — members.py:76), canon+hash+robots at schedule
            # time; hrefs with any other scheme (javascript:, mailto:) are
            # not links and are dropped before resolution
            href = F.col("href")
            edges = U.with_canon(
                parse_ops.extract_children(child_src, rank_col="grk")
                .filter(U.is_link_href(href))
                .withColumn(
                    "url",
                    F.when(
                        href.startswith("http://") | href.startswith("https://"), href
                    ).otherwise(F.concat(F.lit(self.base_url), href)),
                ),
                hash_col="url_hash",
                valid_col="url_ok",
            ).persist()

            cand = (
                edges.filter(F.col("url_ok"))
                .drop("url_ok")
                .withColumn("depth", F.col("parent_depth") + 1)
                .withColumn("priority", F.lit(0))
                .withColumn("seq", self._child_seq(epoch))
            )
            if self.robots_rules:
                cand = cand.filter(
                    robots.allowed_expr(self.robots_rules, F.col("canon_url"), F.col("host"))
                )
            # in-batch dedup: first-scheduled wins = min seq
            cand = frontier_ops.prepare_in_batch(cand)
            # cross-epoch dedup (J4): bloom-pruned anti-join vs the seen set
            if self.use_bloom:
                new = seen_ops.dedup_with_bloom(
                    cand, seen, self._segments, self.n_segments,
                    broadcast_bits=self._use_bcast, bc=self._seg_bc,
                )
            else:
                new = cand.join(seen, "url_hash", "left_anti")
            new_delta = self._finish_frontier_cols(new)

            items = parse_ops.extract_items(item_src)

            # all per-epoch delta writes are INDEPENDENT Spark jobs over
            # already-persisted inputs — submit them concurrently (threaded
            # driver; at small epoch sizes each job alone underuses the
            # cluster, and the fixed per-job cost dominates toy-scale crawl
            # wall time).  Counts + the seq-packing overflow guards ride on
            # Observation metrics instead of separate read-back count jobs.
            from concurrent.futures import ThreadPoolExecutor

            obs_edges = Observation()
            obs_frontier = Observation()
            obs_items = Observation()
            obs_log = Observation()
            writes: list[tuple[str, DataFrame]] = [
                ("fetch_log", fetched_raw.filter(~retry_again).select(
                    "url_hash", "canon_url", "seq", "depth", F.col("grk").alias("pop_rank"),
                    # 'missing' = popped URL with no page behind it (the 404
                    # path — logged, never retried, Scrapy-default parity);
                    # 'failed' = transient budget exhausted (5xx path);
                    # 'not_modified' = http-cache 304 (validator matched —
                    # logged so the NEXT refetch compares against this epoch).
                    F.when(F.col("__transient"), F.lit("failed"))
                    .when(F.col("__not_modified"), F.lit("not_modified"))
                    .when(F.col("body").isNull(), F.lit("missing"))
                    .otherwise(F.lit("ok"))
                    .alias("status"),
                    F.col("__att").alias("attempt"),
                    F.col("__cur_hash").alias("content_hash"),
                ).observe(
                    obs_log,
                    F.sum((F.col("status") == "not_modified").cast("int")).alias("nm"),
                )),
                ("edges", edges.select(
                    "parent_hash", "parent_seq", "child_idx", "url", "canon_url", "url_hash"
                ).observe(obs_edges, F.count(F.lit(1)).alias("n"), F.max("child_idx").alias("max_child"))),
                ("frontier", new_delta.observe(obs_frontier, F.count(F.lit(1)).alias("n"))),
                ("items", items.observe(obs_items, F.count(F.lit(1)).alias("n"))),
            ]
            if self.typed_items:
                # typed item extraction (SURVEY §2.10 end-to-end): parse
                # fetched bodies into ITEM_SPECS structs and append per-type
                # DELTAS — write volume ∝ batch; the merged store is the
                # merge-on-read view (typed_store), Iceberg MERGE at deploy.
                # ALL 13 reference dialects are wired (pipelines.py:34-145
                # keys every spider's items); the tiny kind-count job both
                # materializes the fetched cache BEFORE the concurrent write
                # fan-out and lets empty dialects skip their write job.
                kind_counts = {
                    r["__kind"]: r["n"]
                    for r in item_src.groupBy("__kind").agg(F.count(F.lit(1)).alias("n")).collect()
                }
                typed_pages = item_src.select(
                    F.col("canon_url").alias("page_url"), "body", "__kind"
                )
                for kind, (item_type, extract_fn, fold_fn) in PT.TYPED_SINKS.items():
                    if kind_counts.get(kind, 0) > 0:
                        writes.append(
                            (f"items_{item_type}", fold_fn(extract_fn(typed_pages, kind_col="__kind")))
                        )
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                futs = [
                    pool.submit(self.lake.write_delta, table, df, epoch)
                    for table, df in writes
                ]
                for f in futs:
                    f.result()
            n_edges = int(obs_edges.get["n"])
            max_child = obs_edges.get["max_child"]
            n_new = int(obs_frontier.get["n"])
            n_items = int(obs_items.get["n"])
            # grk is DENSE over the epoch's popped parents, so the packed
            # parent space overflows exactly when n_popped > 2^bits — an
            # epoch-wide guard that holds on multi-host crawls too (per-host
            # max rk could pass while packed ordinals alias).
            if n_popped > parent_cap:
                raise RuntimeError(
                    f"epoch {epoch}: {n_popped} popped parents exceed the "
                    f"2^{self.seq_parent_bits} seq-packing bound; raise "
                    f"seq_parent_bits or lower budget_per_host (lineage "
                    f"seq would alias)"
                )
            if max_child is not None and int(max_child) >= child_cap:
                raise RuntimeError(
                    f"epoch {epoch}: child_idx {int(max_child)} exceeds the "
                    f"2^{self.seq_child_bits} seq-packing bound; raise seq_child_bits"
                )
            meta = {"kind": "crawl", "popped": n_popped, "enqueued": n_new, "items": n_items, "edges": n_edges}
            if self._retries_enabled:
                meta["retried"] = n_retry
                meta["failed"] = n_gaveup
            if self.http_cache:
                n_not_modified = int(obs_log.get["nm"] or 0)
                meta["not_modified"] = n_not_modified
                total_not_modified += n_not_modified
            self.lake.commit(epoch, meta)
            if self.compact_every and epoch > 0 and epoch % self.compact_every == 0:
                self.compact()
            total_fetched += n_popped - n_retry
            total_enqueued += n_new
            total_items += n_items
            total_retried += n_retry
            total_failed += n_gaveup

            # incremental state update — O(|pending| + delta), committed
            # content read back from the delta just written (no recompute)
            popped_keys = batch.select("url_hash")
            if n_retry > 0:
                # re-schedule transient failures: SAME frontier row (lineage
                # seq preserved — order certification holds), priority
                # nudged by retry_priority_adjust.  The retry key set is
                # tiny (≤ batch), so rejoining the ORIGINAL pending row is
                # a broadcast map-side join — no boost/demotion drift from
                # re-deriving priority off the mutated pop-time value.
                retry_keys = fetched_raw.filter(retry_again).select("url_hash")
                retry_pend = pending.join(F.broadcast(retry_keys), "url_hash").withColumn(
                    "priority", F.col("priority") + F.lit(self.retry_priority_adjust)
                )
            else:
                retry_pend = None
            if self._retries_enabled and (n_retry > 0 or retry_state_live):
                retry_state_live = True
                next_retry_state = retry_state.join(popped_keys, "url_hash", "left_anti")
                if n_retry > 0:
                    next_retry_state = next_retry_state.unionByName(
                        fetched_raw.filter(retry_again).select(
                            "url_hash", (F.col("__att") + 1).alias("attempt")
                        )
                    )
                retry_state = next_retry_state.localCheckpoint()
            if n_new > 0:
                committed_new = self.spark.read.parquet(self.lake.delta_path("frontier", epoch))
                next_pending = pending.join(popped_keys, "url_hash", "left_anti").unionByName(
                    committed_new
                )
                if retry_pend is not None:
                    next_pending = next_pending.unionByName(retry_pend)
                next_pending = next_pending.localCheckpoint()
                if tpl_counts is not None:
                    # O(delta) merge: only the newly enqueued rows aggregate;
                    # the running store is (distinct templates)-sized
                    delta_counts = committed_new.groupBy("tpl_hash").agg(
                        F.count(F.lit(1)).alias("n")
                    )
                    tpl_counts = (
                        tpl_counts.unionByName(delta_counts)
                        .groupBy("tpl_hash")
                        .agg(F.sum("n").alias("n"))
                        .localCheckpoint()
                    )
                new_hashes = committed_new.select("url_hash")
                seen_count += n_new
                next_seen = seen.unionByName(new_hashes)
                epochs_since_collapse += 1
                if epochs_since_collapse >= _SEEN_COLLAPSE_EVERY:
                    next_seen = next_seen.localCheckpoint()
                    epochs_since_collapse = 0
                seen = next_seen
                if self.use_bloom:
                    self._merge_bloom(new_hashes, seen, seen_count)
            else:
                next_pending = pending.join(popped_keys, "url_hash", "left_anti")
                if retry_pend is not None:
                    next_pending = next_pending.unionByName(retry_pend)
                next_pending = next_pending.localCheckpoint()
            old_pending = pending
            pending = next_pending
            old_pending.unpersist()
            popped.unpersist()
            fetched_raw.unpersist()
            edges.unpersist()
        pending.unpersist()
        if prior_hashes is not None:
            prior_hashes.unpersist()
        if self._segments is not None:
            self._segments.unpersist()
        if self._seg_bc is not None:
            self._seg_bc.destroy()
            self._seg_bc = None
        return CrawlStats(
            epochs=self.lake.last_committed(),
            fetched=total_fetched,
            enqueued=total_enqueued,
            items=total_items,
            retried=total_retried,
            failed=total_failed,
            not_modified=total_not_modified,
        )

    # -- final state ----------------------------------------------------------
    def typed_store(self, item_type: str, as_of: int | None = None) -> DataFrame:
        """Merge-on-read view of a typed item table: per-epoch deltas
        deduplicated by the type's natural key, LAST writer (highest epoch,
        ``url`` as the deterministic in-epoch tiebreak) wins — the parquet
        stand-in for Iceberg ``MERGE INTO`` keyed by pipelines.py:37-131's
        match_dict (merge_sink.NATURAL_KEYS).  Reads O(base + tail) files
        (compact() bases), not O(epoch count) — VERDICT r2 finding #2.

        ``as_of`` = time-travel snapshot: the store exactly as it stood after
        that committed epoch (Iceberg ``VERSION AS OF``); because epochs are
        deterministic, this equals the live store of the same crawl stopped
        at that epoch."""
        from pyspark.sql import Window

        from nrsr_crawler_spark.operators import merge_sink

        keys = list(merge_sink.natural_keys_for(item_type))
        try:
            deltas = self.lake.read_merged(self.spark, f"items_{item_type}", upto=as_of)
        except ValueError:
            # no committed deltas yet (young crawl, or a snapshot older than
            # the type's first extraction) — the store is legitimately empty
            from nrsr_crawler_spark.items import schema_for

            return self.spark.createDataFrame([], schema_for(item_type))
        w = Window.partitionBy(*keys).orderBy(F.col("epoch").desc(), F.col("url").desc())
        return (
            deltas.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "epoch")
        )

    def seen_set(self, as_of: int | None = None) -> DataFrame:
        """URL-seen set (dupefilter contents): everything enqueued up to and
        including ``as_of`` (default: the full crawl)."""
        return self.lake.read_merged(self.spark, "frontier", upto=as_of).select(
            "url_hash", "canon_url"
        )

    def typed_store_changes(self, item_type: str, since: int) -> DataFrame:
        """CDC read: rows of the typed store inserted or updated AFTER
        committed epoch ``since`` (Iceberg incremental-read / changelog
        stand-in) — the export an incremental training-data refresh pulls
        instead of re-reading the corpus.

        Cost is O(tail): only deltas in (since, now] are scanned, then one
        broadcast-or-colocated left-anti against the SNAPSHOT at ``since``
        restricted to the same keys distinguishes update from insert.  Rows
        whose latest state is byte-identical to the snapshot (a re-extract
        that changed nothing) are dropped — the changelog carries real
        changes only."""
        from nrsr_crawler_spark.operators import merge_sink

        keys = list(merge_sink.natural_keys_for(item_type))
        current = self.typed_store(item_type)
        before = self.typed_store(item_type, as_of=since)
        # tail keys: anything written after `since`
        try:
            tail = self.lake.read_all(
                self.spark, f"items_{item_type}", since=since
            ).select(*keys).distinct()
        except ValueError:
            return current.limit(0).withColumn("change", F.lit("insert"))
        cand = current.join(tail, keys, "left_semi")
        # drop rows byte-identical to the snapshot (re-extract, no change)
        changed = cand.join(before, on=cand.columns, how="left_anti")
        # key present in the snapshot → update, else insert
        old_keys = before.select(*keys).withColumn("__was", F.lit(1))
        return (
            changed.join(old_keys, keys, "left")
            .withColumn(
                "change",
                F.when(F.col("__was").isNotNull(), F.lit("update")).otherwise(
                    F.lit("insert")
                ),
            )
            .drop("__was")
        )

    def fetch_order(self) -> DataFrame:
        """Fetch order as executed: (epoch, pop_rank) lexicographic."""
        log = self.lake.read_all(self.spark, "fetch_log", schema=FETCHLOG_SCHEMA + ", epoch int")
        return log.orderBy("epoch", "pop_rank").select("epoch", "pop_rank", "canon_url", "url_hash", "depth")
