"""URL canonicalization for web-corpus keys (url-level dedup, host grouping).

Crawl pipelines key almost everything on the url (dedup, lineage buckets,
skew salting), so two spellings of one page must collapse to one key:
scheme/host case, default ports, tracking parameters, fragments, and query
parameter order all vary across crawls of the same page. All expressions
are native (JVM codegen, map-side, no UDF) and mirrored exactly by the
DuckDB oracle.

Canonical form:
- fragment stripped;
- scheme and host lowercased (path/query case preserved — it is
  significant);
- default ports dropped (http:80, https:443);
- tracking parameters removed (utm_*, fbclid, gclid, msclkid, mc_cid,
  mc_eid, igshid);
- remaining query parameters sorted bytewise; '?' dropped if none remain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (?i): real-world tracking params arrive in any case (UTM_SOURCE=, Fbclid=);
# (=|$): valueless forms ('?fbclid') must strip too. Keep this regex
# RE2/Java-portable — the DuckDB oracle embeds the identical string.
TRACKING_PARAM_RE = r"(?i)^(utm_[^=&]*|fbclid|gclid|msclkid|mc_cid|mc_eid|igshid)(=|$)"

_SCHEME_HOST_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)"


def normalize_url(col: Column) -> Column:
    no_frag = F.regexp_replace(col, "#.*", "")
    base = F.substring_index(no_frag, "?", 1)
    has_query = F.instr(no_frag, "?") > 0
    # query = everything after the FIRST '?': a literal '?' inside a query
    # value is legal and must stay (substring_index(…, -1) would cut at the
    # LAST '?' and silently drop the params between — and disagree with the
    # oracle's strpos-based split)
    query = F.when(
        has_query, F.substring(no_frag, F.length(base) + 2, 1 << 30)
    ).otherwise(F.lit(""))
    scheme_host = F.lower(F.regexp_extract(base, _SCHEME_HOST_RE, 1))
    rest = F.substring(base, F.length(F.regexp_extract(base, _SCHEME_HOST_RE, 1)) + 1, 1 << 30)
    scheme_host = F.when(
        scheme_host.startswith("http://"),
        F.regexp_replace(scheme_host, ":80$", ""),
    ).when(
        scheme_host.startswith("https://"),
        F.regexp_replace(scheme_host, ":443$", ""),
    ).otherwise(scheme_host)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    canon_query = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
    ).otherwise(F.lit(""))
    # urls with no scheme://host prefix pass through this chain unchanged
    # except fragment/query handling (scheme_host = '' -> rest = base)
    return F.concat(scheme_host, rest, canon_query)


def url_host(col: Column) -> Column:
    """Lowercased host (no port, no userinfo) — the skew/grouping key for
    host-level statistics and per-host politeness budgets. Userinfo is
    stripped BEFORE the port split ('http://u:pw@h/' must group under
    'h', not 'u' — and a blocklist must not be evadable by an
    '@'-spelling). Bracketed IPv6 hosts keep their brackets as the key
    (the ':' port split would otherwise truncate at the first colon)."""
    sh = F.lower(F.regexp_extract(col, _SCHEME_HOST_RE, 1))
    hostport = F.regexp_replace(
        F.regexp_replace(sh, r"^[a-z][a-z0-9+.\-]*://", ""), r"^[^@]*@", ""
    )
    return F.when(
        hostport.startswith("["),
        F.regexp_extract(hostport, r"^(\[[^\]]*\])", 1),
    ).otherwise(F.substring_index(hostport, ":", 1))


def resolve_url(base: Column, href: Column) -> Column:
    """Resolve an href against its page URL (RFC 3986 §5 reference
    resolution, native codegen): absolute hrefs pass through; scheme-
    relative (``//host/...``) take the base's scheme; root-relative
    (``/path``) take the base's scheme://authority; query-only (``?x``)
    replace the base's query; fragment-only / empty resolve to the base
    (fragments are dropped by normalize_url anyway); everything else is
    merge-paths relative resolution against the base path's directory.

    Honest subset: dot segments (``../``) are kept literal rather than
    normalized away — dedup keys only need to be CONSISTENT across
    spellings of the same reference, and a literal ``a/../b`` resolves
    identically every time. A base without a scheme://authority prefix is
    unresolvable; the href passes through unchanged."""
    sh = F.regexp_extract(base, _SCHEME_HOST_RE, 1)
    scheme = F.substring_index(sh, "://", 1)
    base_nofq = F.substring_index(F.regexp_replace(base, "#.*", ""), "?", 1)
    path = F.substring(base_nofq, F.length(sh) + 1, 1 << 30)
    dir_ = F.regexp_replace(path, "[^/]*$", "")
    dir_ = F.when(dir_ == "", F.lit("/")).otherwise(dir_)
    return (
        F.when(href.isNull(), F.lit(None).cast("string"))
        .when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://"), href)
        .when(sh == "", href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(sh, href))
        .when(
            href.startswith("?"),
            F.concat(
                sh, F.when(path == "", F.lit("/")).otherwise(path), href
            ),
        )
        .when((href == "") | href.startswith("#"), base_nofq)
        .otherwise(F.concat(sh, dir_, href))
    )


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-URL dedup — the standard pre-content pass in web-corpus
    pipelines (run before any fingerprint dedup): the same page fetched
    via tracking-parameter / host-case / default-port / fragment variants
    collapses on the canonical key. One groupBy with map-side partials on
    a corpus-sized but NARROW (id, canonical_url) projection; survivor =
    min id, the same rule as dedup_exact. Returns
    (canonical_url, keep_id, n_dupes)."""
    return (
        df.select(
            F.col(id_col), normalize_url(F.col(url_col)).alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dupes"),
        )
    )


LINK_RE = r"""(?is)<a[ \t\n\x0b\f\r][^>]*?href[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*["']([^"']*)["'][^>]*>(.*?)</a>"""


def extract_links(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Outlink extraction for web-graph construction: (url, link_no, href,
    anchor) per <a href=...> in the page html. Native regexp end-to-end —
    both href and anchor-text groups are pulled with regexp_extract_all
    (one pass each over the same JVM-resident string), zipped positionally
    and exploded; anchor text is tag-stripped and trimmed. Binary html
    columns are cast to string (UTF-8) first. The pattern is RE2-portable
    and mirrored by the DuckDB oracle."""
    h = F.col(html_col).cast("string")
    hrefs = F.regexp_extract_all(h, F.lit(LINK_RE), F.lit(1))
    anchors = F.regexp_extract_all(h, F.lit(LINK_RE), F.lit(2))
    pairs = F.arrays_zip(hrefs.alias("href"), anchors.alias("anchor"))
    out = df.select(
        F.col(url_col).alias("url"), F.posexplode(pairs).alias("link_no", "lk")
    )
    anchor = F.trim(F.regexp_replace(F.col("lk.anchor"), r"<[^>]+>", ""))
    return out.select(
        "url",
        F.col("link_no").cast("bigint").alias("link_no"),
        F.col("lk.href").alias("href"),
        anchor.alias("anchor"),
    )


def host_suffixes(host_col: Column) -> Column:
    """All dot-suffixes of a host ('a.b.example.org' -> ['a.b.example.org',
    'b.example.org', 'example.org', 'org']) — the join key set for
    suffix-matching a host against a domain blocklist WITHOUT a LIKE-any
    cross join. The outer ``parts`` reference inside the transform lambda
    re-evaluates the split per element (the higher-order re-evaluation
    trap, PLANS.md) — acceptable ONLY because host label count is bounded
    tiny (<~10); do not reuse this shape for unbounded arrays."""
    parts = F.split(host_col, r"\.")
    return F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, i, 1 << 30), "."),
    )


def domain_stats(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Per-registered-host corpus statistics — the table a crawl curator
    reads to spot over-represented hosts (and the input to per-host caps):
    (host, n_docs, n_pages) where n_pages counts DISTINCT canonical urls.

    One groupBy(host) with map-side partials over a narrow projection;
    count_distinct of the canonical url is the standard two-phase partial
    distinct, still a single shuffle. Host keys are Zipf-skewed at crawl
    scale — AQE skew-split handles the head hosts (no salting needed:
    the aggregation state per key is O(1) + distinct-set, and the partial
    aggregate already collapses most of the head on the map side)."""
    return (
        df.select(
            F.col(id_col),
            url_host(F.col(url_col)).alias("host"),
            normalize_url(F.col(url_col)).alias("_canon"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct(F.col("_canon")).cast("bigint").alias("n_pages"),
        )
    )


def blocklist_flags(
    df: DataFrame,
    blocked_hosts: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """UT1/adult-blocklist-style host filtering: flag every document whose
    url host equals OR is a subdomain of any entry in ``blocked_hosts``
    (a DataFrame with one column ``host``, e.g. read from a blocklist
    file). Returns df's (id, host) plus (blocked: boolean, matched_host:
    the most specific blocklist entry that hit, NULL when clean).

    Scale: the blocklist (UT1 adult is ~4M hosts, a few hundred MB) is
    broadcast; each document explodes its host into its <=~10 dot-suffixes
    and broadcast-joins — no shuffle of the corpus at all. The groupBy
    collapsing multi-suffix hits is keyed on the document id (near-unique,
    no skew)."""
    suffixed = df.select(
        F.col(id_col).alias("id"), url_host(F.col(url_col)).alias("host")
    ).withColumn("_sfx", F.explode(host_suffixes(F.col("host"))))
    hits = suffixed.join(
        F.broadcast(blocked_hosts.select(F.col("host").alias("_sfx")).distinct()),
        "_sfx",
    ).groupBy("id").agg(
        # most specific (longest) matching entry wins the report column
        F.max(F.struct(F.length("_sfx").alias("l"), F.col("_sfx").alias("h")))[
            "h"
        ].alias("matched_host")
    )
    base = df.select(F.col(id_col).alias("id"), url_host(F.col(url_col)).alias("host"))
    return base.join(hits, "id", "left").select(
        "id",
        "host",
        F.col("matched_host").isNotNull().alias("blocked"),
        "matched_host",
    )


def cap_per_host(
    df: DataFrame,
    max_docs: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt: str = "hostcap-v1",
) -> DataFrame:
    """Deterministically downsample over-represented hosts to at most
    ``max_docs`` documents each — the standard diversity guard against a
    handful of mega-hosts dominating a crawl-derived training corpus.

    Selection is unbiased and reproducible: rows rank within their host by
    md5(salt || id) (a uniform deterministic key — partition layout, AQE,
    and cluster size cannot change the sample), ties impossible for
    distinct ids. Returns the input columns plus (host, host_rank).

    Scale: hosts at or under the cap never enter a window — a broadcast-
    able per-host count aggregate splits the corpus, and only the
    over-cap head (a tiny host set with many rows each, the skewed tail
    of the Zipf curve) pays the per-host window sort. That bounds window
    work to the rows that can actually be dropped; the common case is a
    map-side pass plus one small aggregate."""
    from pyspark.sql import Window

    with_host = df.withColumn("host", url_host(F.col(url_col)))
    counts = with_host.groupBy("host").agg(F.count(F.lit(1)).alias("_n"))
    over = counts.filter(F.col("_n") > max_docs).select("host")
    under = with_host.join(F.broadcast(over), "host", "left_anti").withColumn(
        "host_rank", F.lit(None).cast("bigint")
    )
    rank_key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy("host").orderBy(rank_key)
    capped = (
        with_host.join(F.broadcast(over), "host")
        .withColumn("host_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("host_rank") <= max_docs)
    )
    return under.unionByName(capped)


# rel=canonical can precede or follow href inside the <link>; both orders
# are matched with their own pattern (RE2 has no lookaround). og:url is the
# fallback signal. All three are RE2/Java-portable single-pass regexps.
CANONICAL_REL_FIRST_RE = (
    r"""(?is)<link[ \t\n\x0b\f\r][^>]*?rel[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*["']canonical["'][^>]*?href[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*["']([^"']*)["']"""
)
CANONICAL_HREF_FIRST_RE = (
    r"""(?is)<link[ \t\n\x0b\f\r][^>]*?href[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*["']([^"']*)["'][^>]*?rel[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*["']canonical["']"""
)
OG_URL_RE = (
    r"""(?is)<meta[ \t\n\x0b\f\r][^>]*?property[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*["']og:url["'][^>]*?content[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*["']([^"']*)["']"""
)


def _canonical_signals(html_col: str):
    """Shared link-rel/og:url extraction (first match wins, link tag
    outranks og:url; '' normalized to NULL) — the ONE definition both
    extract_canonical and canonical_url_dedup build on."""
    h = F.col(html_col).cast("string")
    link = F.coalesce(
        F.nullif(F.regexp_extract(h, CANONICAL_REL_FIRST_RE, 1), F.lit("")),
        F.nullif(F.regexp_extract(h, CANONICAL_HREF_FIRST_RE, 1), F.lit("")),
    )
    og = F.nullif(F.regexp_extract(h, OG_URL_RE, 1), F.lit(""))
    return link, og


def extract_canonical(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, canonical_href, canonical_source): the page's self-declared
    canonical URL — <link rel=canonical> (either attribute order), falling
    back to the og:url meta property; NULLs when the page declares
    neither. The signal canonical-aware URL dedup consumes: CDN mirrors,
    tracking-parameter variants, and mobile subdomains all declare the
    same canonical, so grouping on coalesce(canonical, normalized url)
    collapses families that pure URL normalization cannot.

    Map-side only — three regexp_extracts over the JVM-resident html (no
    Python, no shuffle); first match wins per signal, link tag outranks
    og:url. Empty extracts are normalized to NULL (Spark returns '' on
    no-match; the DuckDB oracle mirrors with nullif)."""
    link, og = _canonical_signals(html_col)
    return df.select(
        F.col(url_col).alias("url"),
        F.coalesce(link, og).alias("canonical_href"),
        F.when(link.isNotNull(), F.lit("link_rel"))
        .when(og.isNotNull(), F.lit("og_url"))
        .alias("canonical_source"),
    )


def canonical_url_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """URL dedup where a page's self-declared canonical outranks its crawl
    URL: group key = normalize_url(resolve_url(url, canonical_href)),
    falling back to the crawl url when no canonical is declared. The
    resolve step matters on real crawls: relative canonical hrefs
    (``<link rel=canonical href="/index.html">``) are common, and keying
    on the RAW href would collapse unrelated pages across different hosts
    onto one group key — silent cross-site data loss. Same single narrow
    groupBy as url_dedup (min-id survivor, group size); extraction and
    resolution ride the same map-side projection, so the only shuffle is
    the final aggregation on the canonical key."""
    link, og = _canonical_signals(html_col)
    href = F.coalesce(link, og)
    return (
        df.select(
            F.col(id_col),
            normalize_url(
                F.coalesce(
                    resolve_url(F.col(url_col), href), F.col(url_col)
                )
            ).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dupes"),
        )
    )


def host_quality_rollup(
    df: DataFrame,
    score_col: str,
    host_col: str = "host",
    pass_col: str | None = None,
    min_mean: float = 0.5,
    min_pass_frac: float = 0.5,
    score_scale: int | None = None,
) -> DataFrame:
    """Domain-level curation (the RefinedWeb/C4 move): aggregate a per-
    document quality signal to its host and emit a per-host verdict, so
    systematically low-quality domains are dropped WHOLE instead of
    page-by-page — cheaper (the verdict table is host-sized, joinable as
    a broadcast filter on later passes) and more robust (a spam farm's
    few lucky pages don't survive).

    Input: any per-doc table carrying ``host_col`` and a numeric
    ``score_col`` (alpha ratio, LM logprob, classifier logit...), plus
    optionally a boolean ``pass_col`` (e.g. gopher_pass). Output one row
    per host: n_docs, mean_score (round 6), pass_frac (NULL when no
    pass_col), and ``host_verdict`` = mean_score >= min_mean AND (no
    pass_col OR pass_frac >= min_pass_frac).

    ``score_scale`` (e.g. 1_000_000 for scores pre-rounded to 6
    decimals): compute the mean via an EXACT integer sum and ONE final
    division instead of avg(). avg() of pre-rounded values lands on an
    exact .5e-6 rounding boundary whenever the scaled sum is odd — at
    n_docs=2 that is half of all hosts — and a cross-engine ulp in the
    accumulated double then flips round(,6)'s last digit (fuzz seed 18).
    The integer path is deterministic: the sum is exact below 2^53 and a
    single IEEE division of identical operands is correctly rounded
    identically everywhere. Leave None for unrounded score columns
    (logprobs, logits), where plain avg() is the right semantics.

    Scale shape: ONE groupBy(host) with map-side partials; Zipf-head
    hosts tree-reduce through partial aggregation, and AQE skew-split
    handles the residue — never a per-host window."""
    if score_scale is None:
        mean = F.round(F.avg(score_col), 6)
    else:
        # denominators count NON-NULL scores, matching avg()'s skip
        mean = F.round(
            F.sum(F.round(F.col(score_col) * score_scale, 0).cast("bigint"))
            .cast("double")
            / (F.count(F.col(score_col)) * F.lit(score_scale)).cast("double"),
            6,
        )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        mean.alias("mean_score"),
    ]
    if pass_col is not None:
        # 0/1 integer sum + one division — deterministic for the same
        # reason as the score_scale path (a bare avg() of ints may
        # accumulate incrementally in either engine)
        aggs.append(
            F.round(
                F.sum(F.col(pass_col).cast("bigint")).cast("double")
                / F.count(F.col(pass_col)).cast("double"),
                6,
            ).alias("pass_frac")
        )
    out = df.groupBy(F.col(host_col).alias("host")).agg(*aggs)
    if pass_col is None:
        out = out.withColumn("pass_frac", F.lit(None).cast("double"))
    verdict = F.col("mean_score") >= min_mean
    if pass_col is not None:
        verdict = verdict & (F.col("pass_frac") >= min_pass_frac)
    return out.select(
        "host", "n_docs", "mean_score", "pass_frac",
        verdict.alias("host_verdict"),
    )


def crawl_frontier_order(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Politeness-aware frontier ordering: interleave urls round-robin
    across hosts so consecutive fetches never hammer one host — rank 1 of
    every host first (ordered by host), then rank 2 of every host, and so
    on. Returns (id, host, host_rank, frontier_pos) with frontier_pos a
    total order starting at 1 — the dispatch sequence a crawl scheduler
    walks.

    Scale shape: host_rank is a HOST-partitioned window (parallel;
    deterministic by ascending id); the global interleave position is
    ordering.blocked_row_number with host_rank as the block key — a
    monotone coarsening of the (host_rank, host) sort, so the result is
    bit-identical to row_number() over the corpus-global ordering WITHOUT
    a single-task global window (ordering.py's construction; the only
    single-task scan is over #blocks = max pages per host)."""
    from pyspark.sql import Window

    from textractssmlprocessor_spark.operators.ordering import (
        blocked_row_number,
    )

    keyed = df.select(
        F.col(id_col).alias("id"), url_host(F.col(url_col)).alias("host")
    )
    w = Window.partitionBy("host").orderBy("id")
    ranked = keyed.withColumn(
        "host_rank", F.row_number().over(w).cast("bigint")
    )
    return blocked_row_number(
        ranked, block=F.col("host_rank"), within=[F.col("host"), F.col("id")],
        out="frontier_pos",
    )


# spam-ish url tokens (generic placeholder list — swap for a curated one in
# production); shared with the DuckDB oracle via this constant
URL_SUSPECT_TOKENS = ("ads", "tracker", "clickbait", "redirect", "popup")

# tokens must sit on URL-delimiter boundaries: a raw substring match flags
# 'downloads', 'backtracker', or any OAuth 'redirect_uri=' callback. No
# lookbehind (RE2/oracle portability) — the boundary chars are consumed by
# non-capturing groups, the token stays group 1. '_' is a word JOINER
# ('redirect_uri' is not the token 'redirect'); '-' and '.' delimit
# ('ads.example.org', 'cheap-ads-here'). Shared with the oracle.
_URL_TOKEN_BOUNDARY = r"[/.?&=:-]"
URL_SUSPECT_RE = (
    "(?:^|" + _URL_TOKEN_BOUNDARY + ")("
    + "|".join(URL_SUSPECT_TOKENS)
    + ")(?:" + _URL_TOKEN_BOUNDARY + "|$)"
)


def url_quality_columns(col: Column) -> dict[str, Column]:
    """URL-shape quality signals (the FineWeb/UT1-adjacent pre-content
    filter — a url can disqualify a page before its bytes are fetched):
    total length, path depth, digit fraction, query-parameter count, and
    the first matched spam-ish token (NULL when clean). All map-side
    native expressions; thresholds belong to the caller (they are
    corpus-policy, not operator semantics)."""
    sh = F.regexp_extract(col, _SCHEME_HOST_RE, 1)
    rest = F.substring(col, F.length(sh) + 1, 1 << 30)
    # fragment strips FIRST, and the query is everything after the FIRST
    # '?' (a last-'?' split drops params when a '?' appears in a value,
    # and a '#frag?x=1' fragment would count as params on a query-less
    # url — same rule normalize_url documents)
    nf = F.substring_index(rest, "#", 1)
    path = F.substring_index(nf, "?", 1)
    query = F.when(
        F.instr(nf, "?") > 0,
        F.substring(nf, F.instr(nf, "?") + 1, 1 << 30),
    ).otherwise(F.lit(""))
    n = F.length(col)
    digits = F.length(F.regexp_replace(col, "[^0-9]", ""))
    nz = F.when(n > 0, n.cast("double"))
    suspect = F.lower(F.regexp_extract(F.lower(col), URL_SUSPECT_RE, 1))
    return {
        "url_len": n.cast("bigint"),
        "path_depth": F.size(
            F.filter(F.split(path, "/"), lambda p: p != "")
        ).cast("bigint"),
        "url_digit_ratio": F.round(digits / nz, 6),
        "query_param_count": F.size(
            F.filter(F.split(query, "&"), lambda p: p != "")
        ).cast("bigint"),
        "url_suspect": F.nullif(suspect, F.lit("")),
    }


def surt_key(col: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the canonical
    web-archive ordering/grouping form used by CDX indexes and OpenWayback:
    ``com,example)/path?query`` with the scheme dropped, the host reversed
    and comma-joined, and everything lowercased, so one host's pages sort
    contiguously and subdomains sort under their registrable domain.

    Built on :func:`normalize_url` (default-port drop, sorted
    tracking-stripped query, fragment strip), then: host labels reversed,
    non-default port kept after the host, path+query lowercased, bare
    hosts keyed as ``host)/``. Honest subset of the IA spec: no userinfo
    strip, no bracketed-IPv6 handling (the ':' split garbles such hosts
    — use :func:`url_host` for grouping keys, which handles both), no
    IDNA/punycode mapping, no %-encoding normalization —
    deterministic and engine-portable (the DuckDB oracle replays the same
    string algebra). Map-side only.

    Inputs without a scheme://host prefix (relative or garbage urls) have
    no host to reverse: they pass through as lower(normalize_url(url)),
    keeping the column total and NULL-free on any crawl frontier."""
    norm = normalize_url(col)
    scheme_host = F.regexp_extract(norm, _SCHEME_HOST_RE, 1)
    hostport = F.regexp_replace(scheme_host, r"^[a-z][a-z0-9+.\-]*://", "")
    host = F.substring_index(hostport, ":", 1)
    port = F.when(
        F.instr(hostport, ":") > 0,
        F.concat(F.lit(":"), F.substring_index(hostport, ":", -1)),
    ).otherwise(F.lit(""))
    rest = F.substring(norm, F.length(scheme_host) + 1, 1 << 30)
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(
        scheme_host == "", F.lower(norm)
    ).otherwise(
        F.concat(
            F.array_join(F.reverse(F.split(host, r"\.")), ","),
            port,
            F.lit(")"),
            F.lower(rest),
        )
    )
