"""Output checks computed apart from the engine.

Each check returns a list of error strings (empty = correct).  Expected
results come from the generators' own truth: DuckDB recomputes the schedule
pass from the canonical URL parts, and a plain-Python BFS over the
generated link graph gives the pages a crawl must fetch.
"""

from __future__ import annotations

from urllib.parse import urlsplit

import duckdb
import pandas as pd

# ---------------------------------------------------------------------------
# Schedule pass
# ---------------------------------------------------------------------------


def expected_schedule(
    cand: pd.DataFrame, urls: pd.DataFrame, seen_hashes: pd.DataFrame, budgets: pd.DataFrame
) -> pd.DataFrame:
    """The pass as a plain SQL statement.

    ``cand`` (uid, seq, priority): one row per raw candidate;
    ``urls`` (uid, host, canon_url, url_hash); ``seen_hashes`` (url_hash);
    ``budgets`` (host, budget).  Returns (url_hash, seq, rk, host, canon_url):
    exact in-batch dedup (min seq, then min priority), an exact anti-join
    against the seen set, then the top budget per host by
    (priority desc, seq desc, url_hash)."""
    con = duckdb.connect()
    try:
        for name, df in (("cand", cand), ("urls", urls), ("seen", seen_hashes), ("budgets", budgets)):
            con.register(name, df)
        return con.execute(
            """
            WITH rows AS (
                SELECT u.url_hash, u.host, u.canon_url, c.seq, c.priority
                FROM cand c JOIN urls u USING (uid)
            ),
            first AS (SELECT url_hash, min(seq) AS seq FROM rows GROUP BY url_hash),
            win AS (
                SELECT url_hash, seq, min(priority) AS priority,
                       any_value(host) AS host, any_value(canon_url) AS canon_url
                FROM rows JOIN first USING (url_hash, seq)
                GROUP BY url_hash, seq
            ),
            fresh AS (
                SELECT * FROM win
                WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url_hash = win.url_hash)
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY host ORDER BY priority DESC, seq DESC, url_hash ASC
                ) AS rk
                FROM fresh
            )
            SELECT r.url_hash, r.seq, CAST(r.rk AS INTEGER) AS rk, r.host, r.canon_url
            FROM ranked r JOIN budgets b USING (host)
            WHERE r.rk <= b.budget
            """
        ).df()
    finally:
        con.close()


def fresh_per_host(
    cand: pd.DataFrame, urls: pd.DataFrame, seen_hashes: pd.DataFrame
) -> pd.Series:
    """Distinct unseen URLs per host."""
    u = urls[urls["uid"].isin(cand["uid"].unique())]
    u = u[~u["url_hash"].isin(seen_hashes["url_hash"])]
    return u.groupby("host").size()


def check_schedule(
    got: pd.DataFrame,
    expected: pd.DataFrame,
    seen_hashes: pd.DataFrame,
    budgets: dict,
    fresh_h: pd.Series,
) -> list[str]:
    """``got`` is the engine's popped batch (url_hash, seq, rk, canon_url)."""
    errors = []
    key = ["url_hash", "seq", "rk"]
    g = set(map(tuple, got[key].astype("int64").itertuples(index=False)))
    e = set(map(tuple, expected[key].astype("int64").itertuples(index=False)))
    if len(g) != len(got):
        errors.append(f"{len(got) - len(g)} duplicate (url_hash, seq, rk) rows")
    if g != e:
        errors.append(
            f"popped set differs: {len(g - e)} unexpected, {len(e - g)} missing "
            f"of {len(e)} expected"
        )
    in_seen = got["url_hash"].isin(seen_hashes["url_hash"]).sum()
    if in_seen:
        errors.append(f"{in_seen} popped URLs are in the seen set")
    canon = expected.set_index("url_hash")["canon_url"]
    joined = got.join(canon.rename("want"), on="url_hash")
    bad_canon = (joined["canon_url"] != joined["want"]).sum()
    if bad_canon:
        errors.append(f"{bad_canon} popped rows carry a wrong canonical URL")
    host = expected.set_index("url_hash")["host"]
    per_host = got.join(host, on="url_hash").groupby("host").size()
    for h, n_fresh in fresh_h.items():
        want = min(budgets[h], int(n_fresh))
        have = int(per_host.get(h, 0))
        if have != want:
            errors.append(f"host {h} popped {have}, expected min(budget, fresh) = {want}")
            break
    return errors


# ---------------------------------------------------------------------------
# Crawl and recrawl
# ---------------------------------------------------------------------------


def canon(url: str) -> str:
    """Canonical URL (lower-case scheme/host, no fragment, sorted query),
    written here from the URL rules rather than taken from the engine."""
    p = urlsplit(url)
    out = f"{p.scheme.lower()}://{(p.hostname or '').lower()}{p.path or '/'}"
    if p.query:
        out += "?" + "&".join(sorted(p.query.split("&")))
    return out


def resolve(base: str, href: str) -> str | None:
    """The reference spiders' link rule: absolute http(s) hrefs pass
    through, relative ones are appended to the site base URL.  An href with
    another scheme (the site's ``javascript:__doPostBack(...)`` pager links)
    is not a link: None."""
    if href.startswith("http://") or href.startswith("https://"):
        return href
    if urlsplit(href).scheme:
        return None
    return base + href


def reachable(pages: dict, seed_urls: list[str], base: str) -> set[str]:
    """Canonical URLs reachable from the seeds by following the links of
    pages that exist (plain BFS over the generated link graph).  Link
    targets that are not pages are included: they are fetched, and come
    back missing."""
    by_canon = {canon(u): p for u, p in pages.items()}
    seen = {canon(u) for u in seed_urls}
    todo = list(seen)
    while todo:
        u = todo.pop()
        page = by_canon.get(u)
        if page is None:
            continue
        for href in page.child_hrefs:
            url = resolve(base, href)
            if url is None:
                continue
            c = canon(url)
            if c not in seen:
                seen.add(c)
                todo.append(c)
    return seen


def non_link_fetches(pages: dict, reach: set[str], base: str) -> set[str]:
    """What a crawler that appended every non-http(s) href to the base URL
    would fetch beyond ``reach``: the non-link hrefs of reachable pages.
    None of them is a page, so such a fetch is logged ``missing``."""
    out = set()
    for u, p in pages.items():
        if canon(u) in reach:
            out.update(canon(base + h) for h in p.child_hrefs if resolve(base, h) is None)
    return out - reach


def check_crawl(
    log: pd.DataFrame, n_items: int, pages: dict, reach: set[str], tolerated: set[str] = frozenset()
) -> list[str]:
    """``log``: the crawl's fetch_log rows (canon_url, status).
    ``tolerated``: URLs that should not be fetched but may be, and then
    must come back ``missing`` (they count as failed fetches, not as a wrong
    result; see :func:`non_link_fetches`)."""
    errors = []
    page_canon = {canon(u) for u in pages}
    want_ok = reach & page_canon
    want_missing = reach - page_canon
    if log["canon_url"].duplicated().any():
        errors.append(f"{int(log['canon_url'].duplicated().sum())} pages fetched more than once")
    ok = set(log.loc[log["status"] == "ok", "canon_url"])
    missing = set(log.loc[log["status"] == "missing", "canon_url"])
    if ok != want_ok:
        errors.append(f"fetched pages differ from BFS: {len(ok - want_ok)} extra, {len(want_ok - ok)} absent")
    if missing - tolerated != want_missing:
        errors.append(f"missing fetches differ: {len((missing - tolerated) ^ want_missing)} URLs")
    other = set(log["status"]) - {"ok", "missing"}
    if other:
        errors.append(f"unexpected fetch statuses {sorted(other)}")
    want_items = sum(1 for u, p in pages.items() if canon(u) in reach and p.payload is not None)
    if n_items != want_items:
        errors.append(f"{n_items} items, expected {want_items} payloads on reachable pages")
    return errors


def check_recrawl(
    log: pd.DataFrame,
    tombstoned: set[int],
    url_hash_of: dict[str, int],
    reparsed_parents: set[int],
    item_pages: set[str],
    pages: dict,
    reach: set[str],
    changed: set[str],
) -> list[str]:
    """``log``: fetch_log rows written by the recrawl (url_hash, canon_url,
    status); ``reparsed_parents``: url_hash of pages the recrawl extracted
    links from; ``item_pages``: canonical URLs it extracted items from."""
    errors = []
    refetched = set(log["url_hash"])
    if refetched != tombstoned:
        errors.append(
            f"refetched set differs from tombstones: {len(refetched - tombstoned)} extra, "
            f"{len(tombstoned - refetched)} absent"
        )
    changed_c = {canon(u) for u in changed} & reach
    unchanged_c = (reach & {canon(u) for u in pages}) - changed_c
    nm = set(log.loc[log["status"] == "not_modified", "canon_url"])
    if nm != unchanged_c:
        errors.append(f"not_modified differs from unchanged pages: {len(nm ^ unchanged_c)} URLs")
    ok = set(log.loc[log["status"] == "ok", "canon_url"])
    if ok != changed_c:
        errors.append(f"re-fetched-as-changed differs from changed pages: {len(ok ^ changed_c)} URLs")
    by_canon = {canon(u): p for u, p in pages.items()}
    want_parents = {url_hash_of[c] for c in changed_c if by_canon[c].child_hrefs}
    if reparsed_parents != want_parents:
        errors.append(f"pages re-parsed for links differ from changed pages: {len(reparsed_parents ^ want_parents)}")
    want_items = {c for c in changed_c if by_canon[c].payload is not None}
    if item_pages != want_items:
        errors.append(f"pages re-parsed for items differ from changed pages: {len(item_pages ^ want_items)}")
    return errors
