"""Seeded input generators for the benchmark.

Everything the program receives is generated here from ``--seed``; the
program only ever sees the generated rows.  Alongside each input the
generators return the *truth* they were built from (canonical URL parts,
the link graph, the set of changed pages), which the checks in
``checks.py`` use instead of anything the engine computes.
"""

from __future__ import annotations

import dataclasses
import itertools

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# Frontier synthesizer (schedule workloads)
# ---------------------------------------------------------------------------

_PATH = "/web/Default.aspx"
_PARAM_ORDERS = list(itertools.permutations(range(3)))


@dataclasses.dataclass(frozen=True)
class FrontierSpec:
    """Make-up of one schedule-pass input.

    ``n_candidates`` raw candidate rows are drawn over
    ``n_candidates // dup_factor`` distinct URLs, so each distinct URL is
    discovered ``dup_factor`` times on average.  Hosts get URL mass by a
    Zipf(``zipf_s``) law over ``n_hosts``.  ``seen_overlap`` of the distinct
    candidate URLs are already in the seen set; the seen set is topped up to
    ``n_seen`` keys with hashes of URLs outside the batch.
    """

    n_hosts: int
    zipf_s: float
    n_candidates: int
    dup_factor: int
    n_seen: int
    seen_overlap: float
    exact_dup_share: float
    budget: int | None  # flat budget; None = per-host Crawl-delay budgets
    num_salts: int
    n_segments: int
    bloom_fp: float


def host_name(n_hosts: int, k: np.ndarray) -> np.ndarray:
    if n_hosts == 1:
        return np.full(len(k), "www.nrsr.sk", dtype=object)
    return np.array([f"h{i}.example.sk" for i in k], dtype=object)


def canonical_url(host: str, uid: int) -> str:
    """The canonical form the generator means: lower-case scheme and host,
    no default port, no fragment, query parameters sorted as strings."""
    return f"https://{host}{_PATH}?CisObdobia={uid % 8}&ID={uid}&sid=zakony"


def frontier(seed: int, spec: FrontierSpec) -> dict:
    """Raw candidates plus truth.

    Returns a dict with
     - ``raw``: pandas (url, seq, priority) — what the engine gets;
     - ``cand``: pandas (uid, seq, priority), one row per raw row;
     - ``urls``: pandas (uid, host, canon_url) for every distinct URL;
     - ``seen_uids``: distinct candidate uids that are in the seen set;
     - ``n_seen_extra``: how many seen keys lie outside the batch;
     - ``budgets``: dict host -> pop budget.
    """
    rng = np.random.default_rng(seed)
    n_distinct = max(1, spec.n_candidates // spec.dup_factor)
    n_base = spec.n_candidates - int(spec.n_candidates * spec.exact_dup_share)

    # Zipf(s) host popularity over ranks 1..n_hosts (inverse CDF)
    ranks = np.arange(1, spec.n_hosts + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -spec.zipf_s)
    cdf /= cdf[-1]
    host_idx = np.searchsorted(cdf, rng.random(n_distinct), side="right") + 1
    host_idx = np.minimum(host_idx, spec.n_hosts)
    hosts = host_name(spec.n_hosts, host_idx)

    uid = rng.integers(0, n_distinct, size=n_base)
    seq = rng.permutation(n_base).astype(np.int64) + 1
    priority = rng.integers(0, 3, size=n_base).astype(np.int32)
    # exact duplicate rows (same url string, same seq) — real frontiers
    # carry them and the dedup + rejoin path must collapse them
    dup = rng.integers(0, n_base, size=spec.n_candidates - n_base)

    # raw spelling variants of each row's canonical URL
    scheme = np.array(["https", "HTTPS", "Https"])[rng.integers(0, 3, size=n_base)]
    upper = rng.random(n_base) < 0.3
    port = rng.random(n_base) < 0.2
    frag = rng.random(n_base) < 0.2
    order = rng.integers(0, len(_PARAM_ORDERS), size=n_base)
    url = []
    for u, sc, up, po, fr, od in zip(
        uid.tolist(), scheme.tolist(), upper.tolist(), port.tolist(),
        frag.tolist(), order.tolist(),
    ):
        h = hosts[u]
        params = ("sid=zakony", f"ID={u}", f"CisObdobia={u % 8}")
        p = _PARAM_ORDERS[od]
        url.append(
            f"{sc}://{h.upper() if up else h}{':443' if po else ''}{_PATH}"
            f"?{params[p[0]]}&{params[p[1]]}&{params[p[2]]}{'#t' if fr else ''}"
        )
    url = np.array(url, dtype=object)
    raw = pd.DataFrame(
        {
            "url": np.concatenate([url, url[dup]]),
            "seq": np.concatenate([seq, seq[dup]]),
            "priority": np.concatenate([priority, priority[dup]]),
        }
    )
    cand = pd.DataFrame({"uid": uid, "seq": seq, "priority": priority})

    present = np.unique(uid)
    urls = pd.DataFrame(
        {
            "uid": present,
            "host": hosts[present],
            "canon_url": [canonical_url(hosts[u], u) for u in present.tolist()],
        }
    )
    n_overlap = min(int(len(present) * spec.seen_overlap), spec.n_seen)
    seen_uids = np.sort(rng.choice(present, size=n_overlap, replace=False))

    if spec.budget is not None:
        budgets = {h: spec.budget for h in np.unique(hosts)}
    else:
        # robots Crawl-delay in [100, 1000) ms over a 60 s epoch window:
        # budget_h = 60000 div delay_h, a pure function of the host
        uniq = np.unique(hosts)
        delay = rng.integers(100, 1000, size=len(uniq))
        budgets = {h: int(60000 // d) for h, d in zip(uniq.tolist(), delay.tolist())}
    return {
        "raw": raw,
        "cand": cand,
        "urls": urls,
        "seen_uids": seen_uids,
        "n_seen_extra": spec.n_seen - n_overlap,
        "budgets": budgets,
        "rng": rng,
    }


def seen_extra_hashes(rng: np.random.Generator, n: int, taken: np.ndarray) -> np.ndarray:
    """``n`` distinct 64-bit keys standing for URLs outside the batch,
    none equal to a key in ``taken``."""
    out = np.unique(rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=n + 64, dtype=np.int64))
    out = out[~np.isin(out, taken)]
    return rng.permutation(out)[:n]


# ---------------------------------------------------------------------------
# Site generator arguments and page changes (crawl workloads)
# ---------------------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class SiteSpec:
    """Arguments of ``sources.synthetic_site.generate_site`` plus the share
    of page bodies a recrawl finds changed."""

    periods: int
    pages_per_period: int
    details_per_page: int
    members_per_period: int
    changed_share: float


def site(seed: int, spec: SiteSpec) -> dict:
    """The synthetic nrsr.sk site (names drawn from ``seed``) and, drawn
    from the same seed, the pages whose bodies change before the recrawl.

    The link graph and page count do not depend on the seed, so every run
    fetches the same number of pages."""
    from nrsr_crawler_spark.sources.synthetic_site import generate_site

    pages = generate_site(
        periods=spec.periods,
        pages_per_period=spec.pages_per_period,
        details_per_page=spec.details_per_page,
        members_per_period=spec.members_per_period,
        seed=seed,
    )
    rng = np.random.default_rng(seed)
    urls = sorted(pages)
    n_changed = int(len(urls) * spec.changed_share)
    changed = {urls[i] for i in rng.choice(len(urls), size=n_changed, replace=False)}
    return {"pages": pages, "changed": changed}


def changed_body(body: bytes, seed: int) -> bytes:
    """A new revision of a page: same links and payload, different bytes."""
    return body.replace(b"</body>", f"<!--rev {seed}--></body>".encode())
