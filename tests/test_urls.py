from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nrsr_crawler_spark.functions.hashing import xxh64_str
from nrsr_crawler_spark.functions import urls as U

URLS = [
    "https://www.nrsr.sk/web/Default.aspx?sid=schodze/hlasovanie/hlasklub&ID=42",
    "HTTPS://WWW.NRSR.SK/web/Default.aspx?sid=poslanci&PoslanecID=17&CisObdobia=7",
    "https://www.nrsr.sk/web/",
    "https://www.nrsr.sk",
    "http://www.nrsr.sk:80/web/Default.aspx?b=2&a=1#frag",
    "https://www.nrsr.sk:8443/x?z=1&y=2&x=3",
]


def test_xxh64_matches_spark(spark):
    strings = ["", "a", "abc", "x" * 7, "x" * 8, "x" * 31, "x" * 32, "x" * 100,
               "https://www.nrsr.sk/web/Default.aspx?sid=zakony&ID=123", "žltý kôň"]
    df = spark.createDataFrame([(s,) for s in strings], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in strings:
        assert got[s] == xxh64_str(s), s


MESSY = [
    None,
    "",
    "not a url at all",
    "ht tp://bad-scheme.sk/x",
    "mailto:user@nrsr.sk",
    "https://",
    "https://user@www.nrsr.sk:8443/p?b=2&a=1#frag",
    "https://www.nrsr.sk/redirect?u=http://other.sk/x&a=1",
    "HTTP://WWW.NRSR.SK:80",
    # bracketed IPv6 authorities: canon NULL in all three implementations
    "https://[::1]:8080/x",
    "http://[2001:db8::1]/path?a=1",
    "https://user@[::1]/x",
]


def test_with_canon_rejects_tmp_column_collision(spark):
    df = spark.createDataFrame([("https://a.sk/x", "boom")], ["url", "__host"])
    with pytest.raises(ValueError, match="temp column collision"):
        U.with_canon(df)


def test_canonicalize_parity(spark):
    df = spark.createDataFrame([(u,) for u in URLS], ["url"])
    got = [r[0] for r in df.select(U.canonicalize(F.col("url"))).collect()]
    exp = [U.canonicalize_py(u) for u in URLS]
    assert got == exp


def test_with_canon_matches_column_form_and_py(spark):
    """The hot-path stepwise transform, the Column expression, and the
    Python mirror must agree — including on malformed input."""
    urls = URLS + MESSY
    df = spark.createDataFrame([(u, i) for i, u in enumerate(urls)], ["url", "i"])
    stepwise = {
        r["i"]: (r["canon_url"], r["host"])
        for r in U.with_canon(df).collect()
    }
    column = {
        r["i"]: (r["c"], r["h"])
        for r in df.select(
            "i",
            U.canonicalize(F.col("url")).alias("c"),
            U.url_host(F.col("url")).alias("h"),
        ).collect()
    }
    for i, u in enumerate(urls):
        assert stepwise[i][0] == column[i][0] == U.canonicalize_py(u), u
        if stepwise[i][0] is not None:
            assert stepwise[i][1] == column[i][1], u


def test_canonicalize_semantics():
    assert U.canonicalize_py("HTTPS://WWW.NRSR.SK/x?b=2&a=1#f") == "https://www.nrsr.sk/x?a=1&b=2"
    assert U.canonicalize_py("https://www.nrsr.sk") == "https://www.nrsr.sk/"


HREFS = {
    "javascript:__doPostBack('grid','Page$2')": False,
    "JavaScript:void(0)": False,
    "mailto:member1@nrsr.sk": False,
    "tel:+421": False,
    "ftp://www.nrsr.sk/x": False,
    "https://www.nrsr.sk/x": True,
    "HTTP://WWW.NRSR.SK/": True,
    "/web/Default.aspx?sid=x": True,
    "Default.aspx?sid=zakony&x=a:b": True,
    "p/a:b": True,
    "": True,
}


def test_is_link_href_keeps_relative_and_http_only(spark):
    df = spark.createDataFrame([(h,) for h in HREFS], "href string")
    got = {r.href: r.ok for r in df.select("href", U.is_link_href(F.col("href")).alias("ok")).collect()}
    assert got == HREFS
    assert {h: U.is_link_href_py(h) for h in HREFS} == HREFS


@settings(max_examples=200, deadline=None)
@given(
    host=st.from_regex(r"[a-z][a-z0-9]{0,10}(\.[a-z]{2,5}){1,2}", fullmatch=True),
    path=st.from_regex(r"(/[A-Za-z0-9_.]{0,8}){0,3}", fullmatch=True),
    params=st.lists(st.tuples(st.from_regex(r"[A-Za-z]{1,6}", fullmatch=True),
                              st.from_regex(r"[A-Za-z0-9]{0,6}", fullmatch=True)), max_size=4),
)
def test_canon_idempotent(host, path, params):
    q = "&".join(f"{k}={v}" for k, v in params)
    u = f"https://{host}{path}" + (f"?{q}" if q else "")
    c = U.canonicalize_py(u)
    assert U.canonicalize_py(c) == c


def test_query_param_extraction(spark):
    df = spark.createDataFrame(
        [("https://www.nrsr.sk/web/Default.aspx?sid=poslanci&PoslanecID=17&CisObdobia=7",)],
        ["url"],
    )
    row = df.select(
        U.url_query_param_long(F.col("url"), "PoslanecID").alias("pid"),
        U.url_query_param_long(F.col("url"), "CisObdobia").alias("per"),
        U.url_host(F.col("url")).alias("host"),
    ).collect()[0]
    assert (row.pid, row.per, row.host) == (17, 7, "www.nrsr.sk")


def test_host_shard_spreads_single_host(spark):
    df = spark.range(0, 2000).select(
        F.lit("www.nrsr.sk").alias("host"),
        F.xxhash64(F.col("id").cast("string")).alias("h"),
    )
    n = df.select(U.host_shard(F.col("host"), F.col("h"), 64, 16).alias("s")) \
          .select(F.countDistinct("s")).collect()[0][0]
    assert n >= 12  # 16 salts → up to 16 distinct shards for one host


def test_strip_tracking_semantics(spark):
    cases = [
        # (raw, expected after canonicalize -> strip_tracking)
        ("https://x.sk/p?utm_source=a&id=3", "https://x.sk/p?id=3"),
        ("https://x.sk/p?UTM_Campaign=a&fbclid=z", "https://x.sk/p"),  # all tracking -> no '?'
        ("https://x.sk/p", "https://x.sk/p"),  # no query untouched
        ("https://x.sk/p?gclid=1&id=2&sessionid=9&b=4", "https://x.sk/p?b=4&id=2"),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [
        r[0]
        for r in df.select(
            U.strip_tracking(U.canonicalize(F.col("url")))
        ).collect()
    ]
    assert got == [e for _, e in cases]


def test_strip_tracking_idempotent_and_hash_collapse(spark):
    df = spark.createDataFrame(
        [("https://x.sk/p?utm_a=1&id=7",), ("HTTPS://X.SK/p?id=7&fbclid=q#f",)],
        ["url"],
    )
    out = df.select(U.strip_tracking(U.canonicalize(F.col("url"))).alias("s"))
    once = [r.s for r in out.collect()]
    twice = [r.s for r in out.select(U.strip_tracking(F.col("s")).alias("s")).collect()]
    assert once == twice  # idempotent on its own output
    assert once[0] == once[1]  # tracking aliases collapse to one URL


def test_registrable_domain_psl_semantics(spark):
    import pyspark.sql.functions as F

    from nrsr_crawler_spark.functions.urls import registrable_domain

    cases = [
        ("www.nrsr.sk", "nrsr.sk"),
        ("m.nrsr.sk", "nrsr.sk"),  # same crawl citizen as www
        ("nrsr.sk", "nrsr.sk"),
        ("a.example.co.uk", "example.co.uk"),  # 2-level suffix -> 3 labels
        ("example.co.uk", "example.co.uk"),
        ("deep.sub.example.com.au", "example.com.au"),
        ("10.1.2.7", "10.1.2.7"),  # IPv4 literal: itself
        ("localhost", None),  # single label: no registrable domain
        (None, None),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = [r.d for r in df.select(registrable_domain(F.col("host")).alias("d")).collect()]
    assert got == [e for _, e in cases]
    # a.co.uk and b.co.uk must NOT collapse into co.uk
    assert got[3] != "co.uk" and got[4] != "co.uk"
