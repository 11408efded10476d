"""URL kernel: canonicalization, fingerprinting, host sharding.

Spark-first re-expression of the reference's URL handling:
 - ``BASE_URL + relative`` joins   (/root/reference/nrsr/spiders/members.py:76)
 - ``urlparse``/``parse_qs`` id extraction (members.py:81-88, votings.py:164)
 - Scrapy dupefilter request fingerprint  (settings.py:114)

Two canon implementations with IDENTICAL semantics:
 - ``canonicalize`` — pure Column expressions (JVM, whole-stage codegen; the
   hot path).
 - ``canonicalize_py`` — plain-Python mirror used by the test-side reference
   simulator; parity asserted in tests/test_urls.py.

Canonical form: lowercase scheme + host, drop default port, path defaults to
``/``, query params sorted lexicographically (full-param strings), fragment
dropped.  Deterministic and idempotent: canon(canon(u)) == canon(u).

Scale note: everything here is a column expression over the frontier
DataFrame — no shuffle, no Python.  At 10^10 URLs this stage is pure map work
that scales linearly with executors.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_PORTS = {"http": 80, "https": 443}

_SCHEME_RE = r"^[a-z][a-z0-9+.\-]*$"
# an href's scheme, when it has one (RFC 3986 §3.1): it ends at the first
# ':' and precedes any '/', '?' or '#'
HREF_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*):"

_TMP_COLS = (
    "__loc", "__len", "__scheme", "__rest", "__qsplit", "__authpath", "__query",
    "__auth", "__path", "__hostport", "__host", "__port", "__hostout", "__sq",
    "__valid",
)

# Bracketed (IPv6-literal) authorities are rejected as invalid in ALL THREE
# canon implementations: the char-scan column form cannot split host:port
# inside brackets without a regex in the hot path, and the crawl domain
# (www.nrsr.sk) never emits them — so the consistent, cheap choice is
# canon=NULL for 'https://[::1]/x' everywhere (parity-tested in
# tests/test_urls.py with IPv6 entries in MESSY).


def with_canon(
    df,
    url_col: str = "url",
    canon_col: str = "canon_url",
    host_col: str | None = "host",
    hash_col: str | None = None,
    valid_col: str | None = None,
):
    """HOT-PATH canonicalizer: adds ``canon_col`` (+ optional host/hash
    columns) to ``df`` via stepwise aliased projections.

    Why a DataFrame transform and not :func:`canonicalize`'s single Column:
    a nested Column expression inlines every intermediate (authority, path,
    query, …) as a full subtree at each use site; past codegen's method-size
    limits Spark falls back to interpreted eval and the duplicated subtrees
    are recomputed per row (measured 28 s vs 2 s for 600 k rows at sf0.1).
    Materializing each intermediate as an aliased column keeps evaluation
    linear in the number of distinct pieces regardless of codegen decisions.

    Scale warning: do NOT filter on ``canon_col IS NOT NULL`` directly above
    this transform — predicate pushdown substitutes the whole alias chain
    back into one giant predicate and re-triggers the blowup (``canon_col``
    references every piece, several of them twice, and substitution
    multiplies through the levels).  Either dedup first (nulls collapse into
    the xxhash64(NULL) group) and filter after the aggregation, as
    ``operators.frontier.prepare_candidates`` does, or — when rows must be
    dropped *before* a stateful op, as in streaming — pass ``valid_col`` and
    filter on that boolean: its expression references each intermediate only
    once, so the pushed-down predicate stays linear.

    The same holds for a comparison with the other side of a join: filtering
    ``hash_col == <joined column>`` above this transform is pushed into the
    join, and the inlined ``xxhash64(<whole canon>)`` becomes a join key
    evaluated on every input row.  Join on plain columns before the canon
    (to shrink its input) or after an aggregation over its output, as
    ``operators.frontier.rejoin_urls`` does.
    """
    clash = set(df.columns) & set(_TMP_COLS)
    if clash:
        raise ValueError(
            f"with_canon temp column collision: {sorted(clash)} already exist "
            f"on the input DataFrame (rename them first)"
        )
    u = F.col(url_col)
    dp = F.when(F.col("__scheme") == "http", F.lit(80)).when(
        F.col("__scheme") == "https", F.lit(443)
    )
    out = (
        df.withColumns({"__loc": F.locate("://", u), "__len": F.length(u)})
        .withColumns(
            {
                "__scheme": F.lower(F.substring(u, 1, F.col("__loc") - F.lit(1))),
                "__rest": F.substring_index(
                    F.substring(u, F.col("__loc") + F.lit(3), F.col("__len")), "#", 1
                ),
            }
        )
        .withColumns({"__qsplit": F.split(F.col("__rest"), r"\?", 2)})
        .withColumns(
            {
                "__authpath": F.element_at(F.col("__qsplit"), 1),
                "__query": F.coalesce(
                    F.try_element_at(F.col("__qsplit"), F.lit(2)), F.lit("")
                ),
            }
        )
        .withColumns({"__auth": F.substring_index(F.col("__authpath"), "/", 1)})
        .withColumns(
            {
                "__path": F.when(
                    F.length(F.col("__authpath")) == F.length(F.col("__auth")),
                    F.lit("/"),
                ).otherwise(
                    F.substring(
                        F.col("__authpath"),
                        F.length(F.col("__auth")) + F.lit(1),
                        F.length(F.col("__authpath")),
                    )
                ),
                "__hostport": F.substring_index(F.col("__auth"), "@", -1),
            }
        )
        .withColumns(
            {
                "__host": F.lower(F.substring_index(F.col("__hostport"), ":", 1)),
                "__port": F.when(
                    F.col("__hostport").contains(":"),
                    F.substring_index(F.col("__hostport"), ":", -1).try_cast("int"),
                ),
            }
        )
        .withColumns(
            {
                "__hostout": F.when(
                    F.col("__port").isNotNull() & ~F.col("__port").eqNullSafe(dp),
                    F.concat(F.col("__host"), F.lit(":"), F.col("__port").cast("string")),
                ).otherwise(F.col("__host")),
                "__sq": F.when(F.col("__query") == "", F.lit("")).otherwise(
                    F.concat(
                        F.lit("?"),
                        F.array_join(F.array_sort(F.split(F.col("__query"), "&")), "&"),
                    )
                ),
                "__valid": (F.col("__loc") > 0)
                & (F.col("__host") != "")
                & ~F.col("__auth").contains("[")
                & F.col("__scheme").rlike(_SCHEME_RE),
            }
        )
        .withColumn(
            canon_col,
            F.when(~F.col("__valid"), F.lit(None).cast("string")).otherwise(
                F.concat(
                    F.col("__scheme"),
                    F.lit("://"),
                    F.col("__hostout"),
                    F.col("__path"),
                    F.col("__sq"),
                )
            ),
        )
    )
    if host_col:
        out = out.withColumn(host_col, F.when(F.col("__valid"), F.col("__host")))
    if hash_col:
        out = out.withColumn(hash_col, F.xxhash64(F.col(canon_col)))
    if valid_col:
        out = out.withColumn(valid_col, F.col("__valid"))
    return out.drop(
        "__loc", "__len", "__scheme", "__rest", "__qsplit", "__authpath", "__query",
        "__auth", "__path", "__hostport", "__host", "__port", "__hostout", "__sq",
        "__valid",
    )


def is_link_href(href: Column) -> Column:
    """True when an href names a page to fetch: scheme-less (relative,
    resolved against the base URL) or http(s).  ``javascript:``, ``mailto:``
    and other schemes are not links — appended to the base URL they would
    make fetchable nonsense.  :func:`is_link_href_py` is the Python mirror."""
    scheme = F.lower(F.regexp_extract(href, HREF_SCHEME_RE, 1))
    return scheme.isin("", "http", "https")


def is_link_href_py(href: str) -> bool:
    m = re.match(HREF_SCHEME_RE, href)
    return m is None or m.group(1).lower() in ("http", "https")


def canonicalize(url: Column) -> Column:
    """Canonical URL as a single Column expression — convenience/cold-path
    form (oracle battery, one-off lookups).  Identical semantics to
    :func:`with_canon`; see that function for why hot paths must use the
    stepwise DataFrame transform instead (nested-subtree duplication makes
    this Column form ~10× slower when codegen bails out).

    Built from single-pass string scans (``substring_index``/``split``/
    ``locate``) instead of ``parse_url`` — ``ParseUrlEvaluator`` re-parses
    the whole URL per component (5 components ≈ 19 µs/row); the only regex
    left validates the (short) scheme string.
    """
    loc = F.locate("://", url)  # 0 when absent; first occurrence
    scheme = F.lower(F.substring(url, 1, loc - F.lit(1)))
    # rest = after '://', with the fragment cut off
    rest = F.substring_index(
        F.substring(url, loc + F.lit(3), F.length(url)), "#", 1
    )
    qsplit = F.split(rest, r"\?", 2)
    authpath = F.element_at(qsplit, 1)
    query = F.coalesce(F.try_element_at(qsplit, F.lit(2)), F.lit(""))
    auth = F.substring_index(authpath, "/", 1)
    raw_path = F.substring(authpath, F.length(auth) + F.lit(1), F.length(authpath))
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    hostport = F.substring_index(auth, "@", -1)
    host = F.lower(F.substring_index(hostport, ":", 1))
    port = F.when(
        hostport.contains(":"),
        F.substring_index(hostport, ":", -1).try_cast("int"),
    )
    default_port = F.when(scheme == "http", F.lit(80)).when(scheme == "https", F.lit(443))
    host_out = F.when(
        port.isNotNull() & ~(port.eqNullSafe(default_port)),
        F.concat(host, F.lit(":"), port.cast("string")),
    ).otherwise(host)
    sorted_query = F.array_join(F.array_sort(F.split(query, "&")), "&")
    valid = (loc > 0) & (host != "") & ~auth.contains("[") & scheme.rlike(_SCHEME_RE)
    return F.when(~valid, F.lit(None).cast("string")).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            host_out,
            path,
            F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_query)),
        )
    )


def canonicalize_py(url: str | None) -> str | None:
    """Plain-Python mirror of :func:`canonicalize` (simulator/tests only).

    Returns None for non-fetchable/malformed URLs (no scheme or no host) —
    the Spark expression yields NULL for those (host is NULL → concat NULL).
    """
    if not url:
        return None
    try:
        p = urlsplit(url)
    except ValueError:
        return None
    if not p.scheme or not p.hostname:
        return None
    if "[" in p.netloc:  # bracketed IPv6 authority: invalid in all impls
        return None
    scheme = p.scheme.lower()
    host = (p.hostname or "").lower()
    port = p.port
    if port is not None and DEFAULT_PORTS.get(scheme) != port:
        host = f"{host}:{port}"
    path = p.path or "/"
    out = f"{scheme}://{host}{path}"
    if p.query:
        out += "?" + "&".join(sorted(p.query.split("&")))
    return out


def url_hash(canon_url: Column) -> Column:
    """64-bit URL fingerprint (Spark-native dupefilter key, SURVEY §2.8 F14)."""
    return F.xxhash64(canon_url)


def url_host(url: Column) -> Column:
    """Host (no port/userinfo), lowercased; NULL for non-URLs.

    Same char-scan construction as :func:`canonicalize` (no regex, no
    parse_url) — this also runs per frontier row."""
    loc = F.locate("://", url)
    auth = F.substring_index(
        F.substring_index(F.substring(url, loc + F.lit(3), F.length(url)), "#", 1),
        "/",
        1,
    )
    auth = F.substring_index(F.substring_index(auth, "?", 1), "@", -1)
    h = F.lower(F.substring_index(auth, ":", 1))
    return F.when(
        (loc == 0) | (h == "") | auth.contains("["), F.lit(None).cast("string")
    ).otherwise(h)


def url_query_param(url: Column, key: str) -> Column:
    """``parse_qs(...)[key]`` equivalent (SURVEY §2.8 F9), e.g. ``ID``,
    ``CisObdobia``, ``PoslanecID`` (votings.py:164-165, members.py:86-88)."""
    return F.try_parse_url(url, F.lit("QUERY"), F.lit(key))


def url_query_param_long(url: Column, key: str) -> Column:
    return url_query_param(url, key).try_cast("long")


def resolve(base: str, href: Column) -> Column:
    """``'{}{}'.format(BASE_URL, href)`` (SURVEY §2.8 F10)."""
    return F.concat(F.lit(base), href)


def host_shard(host: Column, url_hash_col: Column, num_shards: int = 64, salt: int = 16) -> Column:
    """Salted host shard (north_star): spread a single dominant host
    (everything on www.nrsr.sk) across ``salt`` sub-shards while keeping
    shard→host many-to-one so per-host accounting stays exact.

    shard = xxhash64(host, url_hash % salt) mod num_shards — a pure map
    expression; this is what kills single-host shuffle skew at 10^10 URLs.
    """
    return F.pmod(F.xxhash64(host, F.pmod(url_hash_col, F.lit(salt))), F.lit(num_shards))


# default drop-list: analytics/click/session params that change per visitor
# but never the content — stripping them is the standard crawler
# canonicalization step that collapses tracking aliases of one page
TRACKING_PREFIXES = ("utm_",)
TRACKING_NAMES = (
    "fbclid", "gclid", "msclkid", "dclid", "yclid",
    "sessionid", "phpsessid", "jsessionid", "sid_tracking",
)


def strip_tracking(
    canon_url: Column,
    prefixes: tuple[str, ...] = TRACKING_PREFIXES,
    names: tuple[str, ...] = TRACKING_NAMES,
) -> Column:
    """Remove tracking query params from an ALREADY-CANONICAL URL
    (:func:`canonicalize` output: sorted ``k=v`` params joined by ``&``,
    no fragment).  A param is dropped when its key (case-insensitive)
    equals one of ``names`` or starts with one of ``prefixes``; a query
    left empty drops its ``?``.  Composable BEFORE :func:`url_hash` so
    tracking aliases of one page collapse into one frontier row — pure
    column expressions (split → filter → array_join), zero shuffle, and
    idempotent like the canonicalizer itself."""
    base = F.substring_index(canon_url, "?", 1)
    qpos = F.locate("?", canon_url)
    query = F.substring(canon_url, qpos + F.lit(1), F.length(canon_url))

    def keep(p: Column) -> Column:
        key = F.lower(F.substring_index(p, "=", 1))
        cond = key.isin(*names) if names else F.lit(False)
        for pre in prefixes:
            cond = cond | key.startswith(pre)
        return ~cond

    kept = F.array_join(F.filter(F.split(query, "&"), keep), "&")
    return F.when(canon_url.isNull(), F.lit(None).cast("string")).otherwise(
        F.when((qpos == 0) | (kept == ""), base).otherwise(F.concat(base, F.lit("?"), kept))
    )


# -- registrable domain (eTLD+1) ------------------------------------------------

# Minimal built-in snapshot of the Mozilla Public Suffix List's most common
# two-level suffixes.  The full PSL (~9k rules, publicsuffix.org) would ship
# as a broadcast lookup table at deploy time; the LOGIC — longest known
# suffix wins, registrable domain = suffix + one label — is what this
# implements, as a pure column expression (no UDF, stays in codegen).
TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "gov.uk", "ac.uk", "me.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.au", "net.au", "org.au", "edu.au",
    "co.nz", "org.nz", "co.za", "co.in", "co.kr", "co.id",
    "com.br", "com.mx", "com.ar", "com.cn", "com.tw", "com.sg",
    "com.tr", "com.hk", "com.my", "com.ua", "org.pl", "com.pl",
)


def registrable_domain(host: Column) -> Column:
    """eTLD+1 from a host: the per-SITE (not per-host) key that politeness
    budgets, trap demotion, and domain-level corpus rollups group on —
    ``www.nrsr.sk``, ``m.nrsr.sk``, ``static.nrsr.sk`` are one crawl
    citizen ``nrsr.sk``, while ``a.co.uk`` / ``b.co.uk`` must NOT collapse
    into ``co.uk``.

    Rules (PSL semantics over the built-in suffix snapshot):
     - IPv4 literal → the address itself (no registrable domain concept);
     - single-label host (``localhost``) → NULL;
     - last two labels in TWO_LEVEL_SUFFIXES and ≥3 labels → last THREE
       labels; else → last TWO labels.

    Pure string/case arithmetic — one WholeStageCodegen expression per row,
    no shuffle, no UDF, NULL-safe on NULL/malformed hosts.
    """
    n_dots = F.length(host) - F.length(F.replace(host, F.lit("."), F.lit("")))
    is_ip = host.rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$")
    last2 = F.substring_index(host, ".", -2)
    last3 = F.substring_index(host, ".", -3)
    return (
        F.when(host.isNull() | (n_dots == 0), F.lit(None).cast("string"))
        .when(is_ip, host)
        .when(last2.isin(*TWO_LEVEL_SUFFIXES) & (n_dots >= 2), last3)
        .otherwise(last2)
    )
