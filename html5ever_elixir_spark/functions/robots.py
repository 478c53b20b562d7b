"""robots.txt crawl-politeness filter (RFC 9309 subset).

A crawl pipeline must drop pages its fetcher wasn't allowed to take —
retroactive robots filtering is a standard curation step on web corpora
(the reference engine parses the PAGES; deciding which pages may be in
the corpus at all sits one step upstream and is pure Spark work).

Scope: literal path prefixes with longest-match resolution and
allow-wins-ties (the Google/RFC 9309 rule), case-insensitive
directives, comment stripping, group merging, most-specific-agent
selection with fallback to ``*``. The ``*``/``$`` pattern wildcards of
RFC 9309 §2.2.3 are NOT interpreted — a rule whose path contains them
is kept as a literal (matching the many parsers that predate the RFC);
extending the matcher to wildcards would move the match from
``startswith`` to an anchored regex on both engines.

Scale shape: robots bodies parse in one row-kernel stage (one row per
host — tiny relative to the page corpus), the rule table joins
pages on the uniform ``host`` key (size-gated: no broadcast hint by
default, AQE promotes the normally-tiny rule side), and the
longest-match argmax is an integer ``max`` per url — scalar agg state,
no window, no list.
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators import map_rows

__all__ = ["parse_robots_body", "robots_rules", "apply_robots", "path_of"]


def parse_robots_body(body: str, agent: str = "*") -> list[tuple[bool, str]]:
    """Parse one robots.txt body into the (allow, prefix) rules that
    apply to ``agent`` — RFC 9309 group semantics: consecutive
    ``User-agent`` lines share one group; same-agent groups merge; the
    most specific agent token wins, falling back to ``*``; an empty
    Allow/Disallow value contributes no rule; ``#`` starts a comment;
    directive names are case-insensitive; unknown directives
    (Crawl-delay, Sitemap, …) are skipped without ending the group."""
    groups: list[tuple[set[str], list[tuple[bool, str]]]] = []
    cur_agents: set[str] | None = None
    cur_rules: list[tuple[bool, str]] | None = None
    last_was_agent = False
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if last_was_agent and cur_agents is not None:
                cur_agents.add(val.lower())
            else:
                cur_agents = {val.lower()}
                cur_rules = []
                groups.append((cur_agents, cur_rules))
            last_was_agent = True
        elif key in ("allow", "disallow"):
            last_was_agent = False
            if cur_rules is None or val == "":
                continue
            cur_rules.append((key == "allow", val))
        else:
            last_was_agent = False
    target = agent.lower()
    sel = [r for ags, rs in groups if target in ags for r in rs]
    if not sel and target != "*":
        sel = [r for ags, rs in groups if "*" in ags for r in rs]
    return sel


def robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    body_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """(host, robots_txt) → rule table (host, allow boolean, prefix
    string), one row per rule. Hosts whose file yields no applicable
    rule emit no rows (allow-all by default at apply time). One
    :func:`map_rows` stage."""

    def emit(out, body) -> int:
        rules = parse_robots_body(body, agent)
        for allow, prefix in rules:
            out["allow"].append(allow)
            out["prefix"].append(prefix)
        return len(rules)

    return map_rows(
        robots, [F.col(host_col).alias("host")], [body_col], emit,
        pa.schema([("allow", pa.bool_()), ("prefix", pa.string())]),
    )


def path_of(url) -> "F.Column":
    """Path component of an URL (scheme/host stripped; '' → '/')."""
    rest = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    path = F.regexp_replace(rest, r"^[^/]*", "")
    return F.when(path == "", F.lit("/")).otherwise(path)


def apply_robots(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Longest-match robots decision per url.

    ``urls`` must carry ``host`` and ``path`` columns (derive via
    :func:`html5ever_elixir_spark.functions.host_of` / :func:`path_of`);
    ``rules`` is :func:`robots_rules` output. Adds ``allowed`` and
    ``match_len``: the longest matching prefix wins, an Allow beats a
    Disallow of equal length, no match ⇒ allowed with match_len 0.

    The argmax is integer-encoded (``2*len(prefix) + allow``) so both
    engines resolve it with a plain ``max`` — scalar agg state, and the
    tie-break rides the low bit."""
    matched = urls.select(url_col, "host", "path").join(
        rules, "host"
    ).where(F.expr("startswith(path, prefix)"))
    scores = matched.groupBy(url_col).agg(
        F.max(
            F.expr("2 * length(prefix) + (case when allow then 1 else 0 end)")
        ).alias("s")
    )
    return urls.join(scores, url_col, "left").select(
        *[F.col(c) for c in urls.columns],
        F.coalesce(F.col("s") % 2 == 1, F.lit(True)).alias("allowed"),
        F.coalesce(F.expr("s div 2"), F.lit(0)).cast("bigint").alias(
            "match_len"
        ),
    )
