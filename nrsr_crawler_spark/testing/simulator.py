"""Pure-Python model of the reference crawler's scheduler semantics
(SURVEY §2.6 O3, §5 item 2) — the golden oracle for crawl ordering.

Scrapy 1.5 with the reference's settings behaves as:
  - priority queue, all requests priority 0 (no spider sets ``priority=``),
    in-memory LIFO queue ⇒ depth-first pop order;
  - dupefilter records the request fingerprint AT SCHEDULE TIME and drops
    re-discovered URLs (/root/reference/nrsr/settings.py:114);
  - ``CONCURRENT_REQUESTS_PER_IP = 1`` + ``DOWNLOAD_DELAY = 2.5`` on a single
    host ⇒ fetches are strictly sequential, and a response's callback runs
    (children get scheduled) before the next fetch completes
    (settings.py:30-33).

So: pop newest scheduled request; fetch; schedule its children in document
order (each passing the dupefilter); repeat.  The engine must reproduce this
order and final seen set (north_rule); tests compare against this model.
"""

from __future__ import annotations

from dataclasses import dataclass

from nrsr_crawler_spark.functions.hashing import xxh64_str
from nrsr_crawler_spark.functions.urls import canonicalize_py, is_link_href_py
from nrsr_crawler_spark.sources.synthetic_site import BASE, SitePage


@dataclass
class GoldenCrawl:
    order: list[dict]          # fetch_seq, url, canon_url, url_hash, depth, parent_url
    seen: set[str]             # canonical URLs admitted by the dupefilter


def _canon(url: str) -> str | None:
    c = canonicalize_py(url)
    if c is None:
        return None
    return c


def resolve_href(href: str, base: str = BASE) -> str | None:
    """Reference href resolution: absolute pass-through, else BASE_URL concat
    (members.py:76 — the reference never uses urljoin).  None for an href
    with a scheme other than http(s): not a link."""
    if not is_link_href_py(href):
        return None
    if href.startswith("http://") or href.startswith("https://"):
        return href
    return base + href


def robots_allow_py(rules: list[dict], canon_url: str, user_agent: str = "*") -> bool:
    """Plain-Python mirror of operators/robots.allowed_expr (REP semantics:
    longest matching path prefix wins, allow beats disallow on ties, no
    matching rule ⇒ allowed) — the simulator side of the robots gate."""
    from urllib.parse import urlsplit

    p = urlsplit(canon_url)
    host, path = (p.hostname or "").lower(), p.path or "/"
    best: tuple[int, int] | None = None  # (prefix_len, allow_rank)
    verdict = True
    for r in rules:
        if r["user_agent"] not in ("*", user_agent) or r["host"] != host:
            continue
        if not path.startswith(r["path_prefix"]):
            continue
        key = (len(r["path_prefix"]), 1 if r["rule"] == "allow" else 0)
        if best is None or key > best:
            best = key
            verdict = r["rule"] == "allow"
    return verdict


def simulate(
    site: dict[str, SitePage],
    seeds: list[str],
    allow=lambda canon_url: True,
) -> GoldenCrawl:
    """Run the reference-semantics crawl over the synthetic site."""
    stack: list[tuple[str, str, int, str | None]] = []  # (url, canon, depth, parent)
    seen: set[str] = set()
    order: list[dict] = []

    def schedule(url: str, depth: int, parent: str | None) -> None:
        c = _canon(url)
        if c is None or not allow(c) or c in seen:
            return
        seen.add(c)  # dupefilter records at schedule time
        stack.append((url, c, depth, parent))

    for s in seeds:
        schedule(s, 0, None)

    fetch_seq = 0
    while stack:
        url, canon, depth, parent = stack.pop()
        order.append(
            {
                "fetch_seq": fetch_seq,
                "url": url,
                "canon_url": canon,
                "url_hash": xxh64_str(canon),
                "depth": depth,
                "parent_url": parent,
            }
        )
        fetch_seq += 1
        page = site.get(url) or site.get(canon)
        if page is None:
            continue  # 404: no children
        for href in page.child_hrefs:
            url = resolve_href(href)
            if url is not None:
                schedule(url, depth + 1, canon)
    return GoldenCrawl(order=order, seen=seen)


@dataclass
class GoldenEpochCrawl:
    """Golden model of the ENGINE's epoch semantics on a multi-host crawl."""

    order: list[dict]            # epoch, pop_rank, url, canon_url, url_hash, depth, host
    seen: set[str]               # canonical URLs admitted by the dupefilter
    pops: dict[tuple, int]       # (epoch, host) -> popped count


def _host_of(canon: str) -> str:
    from urllib.parse import urlsplit

    return (urlsplit(canon).hostname or "").lower()


def simulate_epochs(
    site: dict[str, SitePage],
    seeds: list[str],
    budget_per_host: int = 1,
    host_budgets: dict[str, int] | None = None,
    allow=lambda canon_url: True,
    base_url: str = BASE,
    seq_child_bits: int = 20,
    seq_epoch_shift: int = 40,
) -> GoldenEpochCrawl:
    """Pure-Python twin of plans/epoch_loop.CrawlEngine's documented pop and
    scheduling semantics — the multi-host golden oracle (VERDICT r3 next #7).

    Per epoch: each host pops its top-``budget(host)`` pending URLs in
    (priority DESC, seq DESC, url_hash ASC) order (politeness.pop_budget with
    the engine's url_hash tiebreak); the global pop ordinal ``grk`` runs over
    hosts in ascending host order (epoch_loop._with_global_rank); children
    are scheduled with the engine's packed seq (epoch, grk, child_idx),
    robots-filtered at schedule time, in-batch min-seq dedup, then anti-join
    against the seen set.  fetch_order() = (epoch, grk) lexicographic."""
    host_budgets = dict(host_budgets or {})

    def budget(host: str) -> int:
        return host_budgets.get(host, budget_per_host)

    # pending rows keyed by url_hash: (url, canon, host, depth, priority, seq)
    pending: dict[int, dict] = {}
    seen_hashes: set[int] = set()
    seen: set[str] = set()
    order: list[dict] = []
    pops: dict[tuple, int] = {}
    page_by_canon = {
        c: p for p in site.values() if (c := _canon(p.url)) is not None
    }

    def schedule(batch: list[tuple[str, int, int, int]]) -> None:
        """batch rows: (raw url, seq, depth, priority) — one epoch's
        candidate set, deduped in-batch (min seq wins) then against seen."""
        winners: dict[int, dict] = {}
        for url, seq, depth, priority in batch:
            c = _canon(url)
            if c is None or not allow(c):
                continue
            h = xxh64_str(c)
            row = {
                "url": url, "canon_url": c, "url_hash": h, "host": _host_of(c),
                "depth": depth, "priority": priority, "seq": seq,
            }
            cur = winners.get(h)
            if cur is None or seq < cur["seq"]:
                winners[h] = row
        for h, row in winners.items():
            if h in seen_hashes:
                continue
            seen_hashes.add(h)
            seen.add(row["canon_url"])
            pending[h] = row

    schedule([(u, i, 0, 0) for i, u in enumerate(seeds)])

    epoch = 0
    while pending:
        epoch += 1
        by_host: dict[str, list[dict]] = {}
        for row in pending.values():
            by_host.setdefault(row["host"], []).append(row)
        popped: list[dict] = []
        for host in sorted(by_host):
            rows = sorted(
                by_host[host],
                key=lambda r: (-r["priority"], -r["seq"], r["url_hash"]),
            )[: budget(host)]
            pops[(epoch, host)] = len(rows)
            popped.extend(rows)  # hosts ascending ⇒ grk order
        batch: list[tuple[str, int, int, int]] = []
        for grk, row in enumerate(popped, start=1):
            del pending[row["url_hash"]]
            order.append(
                {
                    "epoch": epoch, "pop_rank": grk, "url": row["url"],
                    "canon_url": row["canon_url"], "url_hash": row["url_hash"],
                    "depth": row["depth"], "host": row["host"],
                }
            )
            page = page_by_canon.get(row["canon_url"])
            if page is None:
                continue  # 404: logged, no children
            for idx, href in enumerate(page.child_hrefs):
                url = resolve_href(href, base_url)
                if url is None:
                    continue
                # epoch_loop._child_seq packing: (epoch, grk, child_idx)
                seq = (
                    (epoch + 1) * (1 << seq_epoch_shift)
                    + (grk - 1) * (1 << seq_child_bits)
                    + min(idx, (1 << seq_child_bits) - 1)
                )
                batch.append((url, seq, row["depth"] + 1, 0))
        schedule(batch)
    return GoldenEpochCrawl(order=order, seen=seen, pops=pops)
