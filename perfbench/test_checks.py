"""Each output check accepts a right result and rejects planted wrong ones.

    python3 -m pytest perfbench/test_checks.py

No Spark: the checks work on plain pandas frames and the generators' truth.
"""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import checks, gen

SPEC = gen.FrontierSpec(
    n_hosts=5, zipf_s=1.0, n_candidates=3000, dup_factor=3, n_seen=400,
    seen_overlap=0.3, exact_dup_share=0.02, budget=None, num_salts=4,
    n_segments=4, bloom_fp=1e-3,
)


@pytest.fixture(scope="module")
def schedule_case():
    g = gen.frontier(7, SPEC)
    urls = g["urls"].assign(url_hash=g["urls"]["uid"] * 7919 + 13)  # any distinct keys
    overlap = urls.loc[urls["uid"].isin(g["seen_uids"]), "url_hash"]
    extra = gen.seen_extra_hashes(g["rng"], g["n_seen_extra"], urls["url_hash"].to_numpy())
    seen = pd.DataFrame({"url_hash": list(overlap) + list(extra)})
    budgets = g["budgets"]
    budgets_pdf = pd.DataFrame({"host": list(budgets), "budget": list(budgets.values())})
    expected = checks.expected_schedule(g["cand"], urls, seen, budgets_pdf)
    fresh_h = checks.fresh_per_host(g["cand"], urls, seen)
    got = expected[["url_hash", "seq", "canon_url", "rk"]].copy()
    return g, urls, seen, budgets, expected, fresh_h, got


def _check(case, got):
    g, urls, seen, budgets, expected, fresh_h, _ = case
    return checks.check_schedule(got, expected, seen, budgets, fresh_h)


def test_expected_schedule_matches_a_plain_pandas_pass(schedule_case):
    g, urls, seen, budgets, expected, _, _ = schedule_case
    rows = g["cand"].merge(urls, on="uid").sort_values(["url_hash", "seq", "priority"])
    win = rows.drop_duplicates("url_hash")
    fresh = win[~win["url_hash"].isin(seen["url_hash"])]
    fresh = fresh.sort_values(["host", "priority", "seq", "url_hash"], ascending=[True, False, False, True])
    fresh = fresh.assign(rk=fresh.groupby("host").cumcount() + 1)
    want = fresh[fresh["rk"] <= fresh["host"].map(budgets)]
    key = ["url_hash", "seq", "rk"]
    assert set(map(tuple, want[key].itertuples(index=False))) == set(
        map(tuple, expected[key].astype("int64").itertuples(index=False))
    )
    # the case exercises the interesting paths
    assert len(seen) == SPEC.n_seen and (fresh.groupby("host").size() > want.groupby("host").size()).any()


def test_schedule_check_accepts_the_expected_result(schedule_case):
    assert _check(schedule_case, schedule_case[-1]) == []


def test_schedule_check_rejects_budget_off_by_one(schedule_case):
    got = schedule_case[-1]
    host = schedule_case[4].set_index("url_hash")["host"]
    h = got.join(host, on="url_hash")["host"].value_counts().index[0]
    last = got.join(host, on="url_hash").query("host == @h")["rk"].idxmax()
    assert _check(schedule_case, got.drop(index=last)) != []


def test_schedule_check_rejects_a_seen_url_left_in(schedule_case):
    _, urls, seen, *_ , got = schedule_case
    seen_row = urls[urls["url_hash"].isin(seen["url_hash"])].iloc[0]
    planted = pd.concat([got, pd.DataFrame([{
        "url_hash": seen_row["url_hash"], "seq": 1, "canon_url": seen_row["canon_url"], "rk": 1,
    }])], ignore_index=True)
    assert any("seen set" in e for e in _check(schedule_case, planted))


def test_schedule_check_rejects_a_wrong_rank_or_url(schedule_case):
    got = schedule_case[-1].copy()
    got.loc[got.index[0], "rk"] += 1
    assert _check(schedule_case, got) != []
    got = schedule_case[-1].copy()
    got.loc[got.index[0], "canon_url"] = "https://www.nrsr.sk/"
    assert any("canonical" in e for e in _check(schedule_case, got))


# -- crawl -------------------------------------------------------------------

SITE = gen.SiteSpec(periods=2, pages_per_period=2, details_per_page=3, members_per_period=2, changed_share=0.3)


@pytest.fixture(scope="module")
def crawl_case():
    """The BFS result as a crawler that drops non-link hrefs logs it, and the
    log of one that also fetches them (and gets no page back)."""
    from nrsr_crawler_spark.sources.synthetic_site import BASE, SEED_URL

    s = gen.site(3, SITE)
    pages = s["pages"]
    reach = checks.reachable(pages, [SEED_URL], BASE)
    tolerated = checks.non_link_fetches(pages, reach, BASE)
    page_canon = {checks.canon(u) for u in pages}
    urls = sorted(reach) + sorted(tolerated)
    log = pd.DataFrame({
        "canon_url": urls,
        "status": ["ok" if c in page_canon else "missing" for c in urls],
    })
    log["url_hash"] = range(len(log))
    n_items = sum(1 for u, p in pages.items() if checks.canon(u) in reach and p.payload is not None)
    return s, reach, tolerated, log, n_items


def test_crawl_check_accepts_the_bfs_result(crawl_case):
    s, reach, tolerated, log, n_items = crawl_case
    assert tolerated and not tolerated & reach  # the site's javascript: pager hrefs
    assert checks.check_crawl(log, n_items, s["pages"], reach, tolerated) == []
    dropped = log[~log["canon_url"].isin(tolerated)]
    assert checks.check_crawl(dropped, n_items, s["pages"], reach, tolerated) == []
    assert checks.check_crawl(log, n_items, s["pages"], reach) != []


@pytest.mark.parametrize(
    "plant", ["drop_page", "fetch_twice", "items_off_by_one", "missing_as_ok", "stray_missing"]
)
def test_crawl_check_rejects_planted_errors(crawl_case, plant):
    s, reach, tolerated, log, n_items = crawl_case
    log = log.copy()
    if plant == "drop_page":
        log = log.drop(index=log.index[log["status"] == "ok"][0])
    elif plant == "fetch_twice":
        log = pd.concat([log, log.iloc[:1]])
    elif plant == "items_off_by_one":
        n_items += 1
    elif plant == "missing_as_ok":
        log.loc[log["status"] == "missing", "status"] = "ok"
    else:
        log = pd.concat([log, pd.DataFrame([{
            "canon_url": "https://www.nrsr.sk/web/nowhere", "status": "missing", "url_hash": -1,
        }])], ignore_index=True)
    assert checks.check_crawl(log, n_items, s["pages"], reach, tolerated) != []


def _recrawl_args(crawl_case, **override):
    s, reach, _, log, _ = crawl_case
    pages, changed = s["pages"], s["changed"]
    changed_c = {checks.canon(u) for u in changed} & reach
    url_hash_of = dict(zip(log["canon_url"], log["url_hash"]))
    by_canon = {checks.canon(u): p for u, p in pages.items()}
    rlog = log.copy()
    rlog.loc[rlog["status"] == "ok", "status"] = "not_modified"
    rlog.loc[rlog["canon_url"].isin(changed_c), "status"] = "ok"
    args = dict(
        log=rlog,
        tombstoned=set(log["url_hash"]),
        url_hash_of=url_hash_of,
        reparsed_parents={url_hash_of[c] for c in changed_c if by_canon[c].child_hrefs},
        item_pages={c for c in changed_c if by_canon[c].payload is not None},
        pages=pages, reach=reach, changed=changed,
    )
    args.update(override)
    return args


def test_recrawl_check_accepts_the_expected_result(crawl_case):
    assert checks.check_recrawl(**_recrawl_args(crawl_case)) == []


def test_recrawl_check_rejects_planted_errors(crawl_case):
    args = _recrawl_args(crawl_case)
    log = args["log"]
    changed_row = log.index[log["status"] == "ok"][0]
    unchanged = log.loc[log["status"] == "not_modified"].iloc[0]
    plants = [
        dict(log=log.assign(status=log["status"].where(log.index != changed_row, "not_modified"))),
        dict(tombstoned=args["tombstoned"] - {unchanged["url_hash"]}),
        dict(reparsed_parents=args["reparsed_parents"] | {unchanged["url_hash"]}),
        dict(item_pages=args["item_pages"] | {unchanged["canon_url"]}),
    ]
    for p in plants:
        assert checks.check_recrawl(**_recrawl_args(crawl_case, **p)) != [], p


def test_same_seed_same_inputs():
    a, b = gen.frontier(5, SPEC), gen.frontier(5, SPEC)
    pd.testing.assert_frame_equal(a["raw"], b["raw"])
    assert gen.site(4, SITE)["changed"] == gen.site(4, SITE)["changed"]
    assert not gen.frontier(6, SPEC)["raw"].equals(a["raw"])


def test_site_shape_does_not_depend_on_the_seed():
    a, b = gen.site(1, SITE)["pages"], gen.site(2, SITE)["pages"]
    assert sorted(a) == sorted(b)
