"""URL column functions — JVM-side expressions only (no UDFs), so they
stay inside whole-stage codegen and push into scans where possible.

Used by the pipeline for host bucketing/metrics and by dedup for
same-site blocking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"


def host_of(url) -> Column:
    """Hostname of a URL (lowercased); empty string when unparseable."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def registered_domain(url) -> Column:
    """Last two host labels — an eTLD+1 approximation (a real public-
    suffix list is a lookup table join at scale; this is the cheap
    codegen-only variant for bucketing)."""
    host = host_of(url)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1)),
    ).otherwise(host)


def normalize_url(url) -> Column:
    """Canonical form for dedup keys: lowercase scheme+host, strip
    default ports, drop fragments, strip trailing slash on bare paths."""
    url = F.col(url) if isinstance(url, str) else url
    no_frag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    rest = F.regexp_replace(no_frag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    hostpart = F.lower(F.regexp_extract(rest, r"^([^/]*)", 1))
    hostpart = F.regexp_replace(hostpart, r"^[^@]*@", "")  # strip userinfo
    # strip only the scheme's OWN default port: http://host:443 is a
    # distinct origin from http://host and must not collapse
    hostpart = F.when(
        scheme == "http", F.regexp_replace(hostpart, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(hostpart, r":443$", "")
    ).otherwise(hostpart)
    path = F.regexp_replace(rest, r"^[^/]*", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.regexp_replace(path, r"^(/.+?)/$", r"$1")
    # unparseable input (no scheme) passes through untouched
    return F.when(scheme == "", url).otherwise(
        F.concat(scheme, F.lit("://"), hostpart, path)
    )


def host_suffixes(host: Column, max_labels: int = 5) -> Column:
    """Array of dot-suffixes of a host column, most-specific first:
    a.b.c.example → [a.b.c.example, b.c.example, c.example, example],
    capped at the ``max_labels`` SHALLOWEST suffixes (blocklists never
    key deeper than a few labels — caps the explode fan-out at corpus
    scale). The window is anchored at the TAIL: for a host deeper than
    ``max_labels`` the long suffixes are dropped and the shallow ones
    (``example.com``) kept, so parent-domain blocking still fires on
    arbitrarily deep subdomains — the adversarial shape UT1-style lists
    target. (r5 anchored at the head, which silently unblocked
    >max_labels-deep hosts — ADVICE r5 high.) API-built expression
    (no SQL string), so no escape-stripping hazards."""
    parts = F.split(host, r"\.")
    return F.transform(
        F.sequence(
            F.greatest(F.lit(1), F.size(parts) - F.lit(max_labels) + F.lit(1)),
            F.size(parts),
        ),
        lambda i: F.array_join(
            F.slice(parts, i, F.size(parts) - i + 1), "."
        ),
    )


def filter_blocked_hosts(
    pages: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    max_labels: int = 5,
) -> DataFrame:
    """Drop pages whose host matches a blocklist domain exactly OR as a
    parent domain (sub.host7.example is blocked by host7.example) — the
    standard UT1-style URL filtering stage of a crawl pipeline.

    Scale shape: suffix matching is a NON-equi predicate, so we reduce
    it to an equi-join by exploding each page's ≤``max_labels`` host
    suffixes (bounded fan-out) and semi-joining the blocklist; hit urls
    are then anti-joined back (no ``distinct`` — anti join semantics
    dedup the probe side for free). The blocklist join carries no
    broadcast hint, so AQE decides: a curated list (10^4-10^6 rows)
    still broadcast-joins, and a mega-blocklist degrades to a shuffle
    join on the uniform suffix key instead of OOMing — the same
    size-gate discipline as decontaminate.
    Output = the surviving pages, input columns."""
    sfx = pages.select(
        F.col(url_col),
        F.explode(host_suffixes(host_of(F.col(url_col)), max_labels))
        .alias("_sfx"),
    )
    b = blocked.select(F.lower(F.col(domain_col)).alias("_sfx"))
    hits = sfx.join(b, "_sfx", "semi").select(url_col)
    return pages.join(hits, url_col, "left_anti")


def oracle_filter_blocked_sql(
    pages_sql: str,
    blocked_values: list[str],
    select: str = "url",
    max_labels: int = 5,
) -> str:
    """DuckDB mirror over an inline blocklist: same suffix expansion
    (list_transform over generate_series), same exact-or-parent
    semantics."""
    vals = ", ".join(f"('{d}')" for d in blocked_values)
    host = (
        "lower(regexp_extract(url, "
        "'^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1))"
    )
    return f"""
WITH p AS ({pages_sql}),
blocked AS (SELECT lower(v) AS d FROM (VALUES {vals}) t(v)),
sfx AS (
  SELECT url, unnest(list_transform(
    generate_series(
      greatest(1, len(str_split({host}, '.')) - {max_labels} + 1),
      len(str_split({host}, '.'))),
    i -> array_to_string(str_split({host}, '.')[i:], '.'))) AS s
  FROM p
),
hits AS (SELECT DISTINCT url FROM sfx JOIN blocked ON s = d)
SELECT {select} FROM p WHERE url NOT IN (SELECT url FROM hits)
"""


def duck_normalize_url_sql(col: str) -> str:
    """DuckDB mirror of :func:`normalize_url` (independent
    implementation, same contract — the differential gate for URL
    canonicalization). Anchored patterns, so first-match replace
    semantics equal Spark's replace-all."""
    nofrag = f"regexp_replace({col}, '#.*$', '')"
    scheme = (
        f"lower(regexp_extract({nofrag}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    )
    rest = f"regexp_replace({nofrag}, '^[a-zA-Z][a-zA-Z0-9+.-]*://', '')"
    host0 = (
        f"regexp_replace(lower(regexp_extract({rest}, '^([^/]*)', 1)), "
        "'^[^@]*@', '')"
    )
    host = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({host0}, ':80$', '') "
        f"WHEN {scheme} = 'https' THEN regexp_replace({host0}, ':443$', '') "
        f"ELSE {host0} END"
    )
    path0 = f"regexp_replace({rest}, '^[^/]*', '')"
    path = (
        f"regexp_replace(CASE WHEN {path0} = '' THEN '/' ELSE {path0} END, "
        "'^(/.+?)/$', '\\1')"
    )
    return (
        f"CASE WHEN {scheme} = '' THEN {col} "
        f"ELSE {scheme} || '://' || {host} || {path} END"
    )
