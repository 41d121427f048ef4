"""robots.txt parsing and crawl-permission filtering (RFC 9309 subset).

A crawl pipeline must be able to re-evaluate politeness after the fact —
drop pages fetched from paths a site's robots.txt disallows (the
opt-out-respecting filter in every modern corpus pipeline). Two pieces:

- ``parse_robots``: (host, robots_txt) -> one row per rule
  (host, rule, path) for the groups matching the given user-agent
  (default ``*``), via one ``map_rows`` pass. The robots table is
  HOST-count-sized (millions of rows, kilobytes each), not corpus-sized —
  Python parsing here is off the hot path by construction.
- ``robots_verdicts``: urls x rules -> per-url allowed/blocked under the
  RFC precedence: the longest matching path wins; on a length tie,
  ``allow`` wins. No matching rule (or no robots row for the host) means
  allowed. Per RFC 9309 §2.2.2 the matched string is the URL's path PLUS
  query (only the fragment is stripped) — rules like ``Disallow:
  /search?q=`` match. Matching is literal prefix (the RFC's ``*``/``$``
  wildcards are NOT interpreted — rules containing them only match their
  literal-prefix part up to the first ``*``; documented subset).

Scale: rules broadcast-join to the urls on host (rule tables are small);
precedence is a per-URL max-struct AGGREGATION, not a window — the
longest-match/allow-wins pick tree-reduces even for urls matching many
rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .udfs import map_rows
from .weburl import url_host

ROBOTS_RULES_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("rule", StringType(), False),   # 'allow' | 'disallow'
        StructField("path", StringType(), False),
    ]
)


def _parse_robots_txt(text: str, agent: str = "*") -> list[tuple[str, str]]:
    """RFC 9309 group parsing: consecutive ``User-agent`` lines open a
    group. Per the RFC's group-selection rule, if ANY group names the
    agent exactly, only those groups apply; otherwise the ``*`` groups
    apply. Comments (#) stripped; field names case-insensitive; empty
    Disallow (meaning allow-all) ignored. Returns [(rule, path)]. A
    UTF-8 BOM is stripped first: BOM-prefixed robots.txt is common in
    the wild, and an unstripped BOM would make the first User-agent
    line unrecognizable — the whole file would parse to zero rules and
    silently allow everything."""
    groups: list[tuple[list[str], list[tuple[str, str]]]] = []
    agents: list[str] = []
    cur: list[tuple[str, str]] | None = None
    for raw in (text or "").lstrip("\ufeff").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if cur is not None:
                groups.append((agents, cur))
                agents = []
                cur = None
            agents.append(value.lower())
        elif field in ("allow", "disallow"):
            if cur is None:
                cur = []
            if value:
                cur.append((field, value))
        else:
            if cur is None and agents:
                cur = []
    if cur is not None or agents:
        groups.append((agents, cur or []))
    a = agent.lower()
    exact = [g for g in groups if a in g[0]]
    chosen = exact if (exact and a != "*") else [g for g in groups if "*" in g[0]]
    return [r for _, rs in chosen for r in rs]


def parse_robots(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """(host, rule, path) rows for every allow/disallow applying to
    ``agent``. Hosts whose robots.txt yields no applicable rules emit
    nothing (absent host == allowed)."""

    def row(host, text):
        if host is None:
            # a NULL host can never match the verdict equijoin, and emitting
            # it would break the non-nullable output schema (Arrow NPEs on
            # the schema lie) — drop the dead row
            return []
        return [(host, *r) for r in _parse_robots_txt(text or "", agent)]

    return map_rows(df.select(host_col, text_col), row, ROBOTS_RULES_SCHEMA)


def robots_verdicts(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-url crawl verdict under the parsed rule table: (id, host, path,
    allowed, matched_path). RFC 9309 matching: ``*`` matches any char
    sequence, a trailing ``$`` anchors the end, everything else is a
    literal prefix; the most specific match (longest rule path, pattern
    octets) wins and allow beats disallow on ties; no match -> allowed
    with NULL matched_path. ``path`` is the RFC 9309 match target: path +
    query, fragment stripped (``/search?q=x`` — so query-anchored rules
    can match).

    Wildcard rules compile to anchored Java regexes built NATIVELY from
    the rule path (metachars escaped, ``*`` -> ``.*``); wildcard-free
    rules take a startswith fast path (no per-row regex). Truncating at
    the first ``*`` instead would OVER-match — the very common
    ``Disallow: /*.php$`` would become ``Disallow: /`` and silently block
    entire hosts."""
    # match target = everything after the authority, minus the fragment;
    # a query with no path ("http://h?q=x") normalizes to "/?q=x"
    rest = F.regexp_extract(
        F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([/?][^#]*)", 1
    )
    base = urls.select(
        F.col(id_col).alias("id"),
        url_host(F.col(url_col)).alias("host"),
        F.when(F.coalesce(rest, F.lit("")) == "", F.lit("/"))
        .when(rest.startswith("?"), F.concat(F.lit("/"), rest))
        .otherwise(rest)
        .alias("path"),
    )
    rpath = F.col("path")
    has_end = rpath.endswith("$")
    core = F.when(
        has_end, F.substring(rpath, 1, F.length(rpath) - 1)
    ).otherwise(rpath)
    # escape Java-regex metachars in the literal parts, then '*' -> '.*'
    esc = F.regexp_replace(core, r"([.^$+?(){}\[\]|\\])", r"\\$1")
    rx = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(has_end, F.lit("$")).otherwise(F.lit("")),
    )
    eff = rules.select(
        "host",
        "rule",
        rpath.alias("rpath"),
        (rpath.contains("*") | has_end).alias("wild"),
        rx.alias("rx"),
    )
    matches = F.when(
        ~F.col("wild"), F.col("path").startswith(F.col("rpath"))
    ).otherwise(F.regexp_like(F.col("path"), F.col("rx")))
    hits = (
        base.join(eff, "host")
        .filter(matches)
        .groupBy("id")
        .agg(
            # most specific rule wins (pattern length, RFC 9309); tie ->
            # allow (max on (len, rule=='allow'): true > false in struct
            # ordering)
            F.max(
                F.struct(
                    F.length("rpath").alias("l"),
                    (F.col("rule") == "allow").alias("a"),
                    F.col("rpath").alias("p"),
                )
            ).alias("win"),
        )
        .select(
            "id",
            F.col("win.a").alias("_allow"),
            F.col("win.p").alias("matched_path"),
        )
    )
    return base.join(hits, "id", "left").select(
        "id",
        "host",
        "path",
        F.coalesce(F.col("_allow"), F.lit(True)).alias("allowed"),
        "matched_path",
    )


def sitemap_entries(
    df: DataFrame, host_col: str = "host", xml_col: str = "sitemap_xml"
) -> DataFrame:
    """(host, loc, lastmod, priority) — one row per ``<url>`` entry of a
    sitemap.xml column (sitemaps.org protocol). The crawl-frontier
    complement of robots_verdicts: robots says where a crawler MAY go,
    the sitemap says where the site WANTS it to go (with freshness and
    priority hints that feed frontier ordering).

    Native end to end: one regexp explode over the ``<url>`` blocks, then
    per-block field extracts — map-side, zero Python, zero shuffle, and
    every regex is Java/RE2-portable ((?s) + non-greedy, no lookaround).
    Documented subset: ``<urlset>`` entries only (a ``<sitemapindex>``'s
    nested sitemap locs are ANOTHER fetch round — the caller feeds those
    back through its fetch loop); no XML entity decoding beyond the four
    standard ampersand escapes; missing lastmod/priority stay NULL."""
    block_re = r"(?s)<url>.*?</url>"
    blocks = df.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.regexp_extract_all(F.col(xml_col), F.lit(block_re), F.lit(0))
        ).alias("_b"),
    )

    def field(name: str) -> Column:
        raw = F.regexp_extract(
            F.col("_b"), rf"(?s)<{name}>[ \t\n\x0b\f\r]*(.*?)[ \t\n\x0b\f\r]*</{name}>", 1
        )
        unescaped = F.regexp_replace(raw, "&lt;", "<")
        unescaped = F.regexp_replace(unescaped, "&gt;", ">")
        unescaped = F.regexp_replace(unescaped, "&quot;", '"')
        unescaped = F.regexp_replace(unescaped, "&amp;", "&")
        return F.nullif(unescaped, F.lit(""))

    return blocks.select(
        "host",
        field("loc").alias("loc"),
        field("lastmod").alias("lastmod"),
        # try_cast: ANSI is on in Spark 4 — '<priority>high</priority>'
        # in one entry must yield NULL, not kill the scan
        F.round(field("priority").try_cast("double"), 6).alias("priority"),
    ).filter(F.col("loc").isNotNull())
