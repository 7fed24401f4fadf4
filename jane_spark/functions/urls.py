"""URL curation surface (north-star extension: web-corpus pipelines).

Web-scale training corpora key three standard curation stages on URLs
(RefinedWeb / CCNet / C4 practice): URL normalization (so the same page
fetched via tracking-parameter variants dedups exactly), registrable-
domain extraction (so caps and blocklists apply per site, not per
page), and per-domain document caps + blocklists (so one viral domain
cannot dominate the mixture).

Everything here is built-in Column expressions — regexp_extract /
higher-order array ops, RE2-safe, zero UDFs, zero shuffles — so the
whole normalization chain stays inside whole-stage codegen and the
derived columns are available as pushdown-visible predicates. At
100 TB this is a pure projection over the corpus scan; the only
shuffle in the module is the per-domain cap's window (one shuffle on
the registrable domain, skew-handled by the salted top-k variant).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RFC 3986-shaped splitter (scheme://authority path ?query #fragment).
# One regex, three extracts — Spark and DuckDB run the same RE2.
_URL_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)"
# the query starts at the first '?' BEFORE any '#' — a '?' inside the
# fragment is fragment text, not a query (caught by the randomized
# component test: '...#a?b=1' must not yield query 'b=1')
_QUERY_RE = r"^[^#?]*\?([^#]*)"

#: Tracking parameters stripped by normalization: the industry-standard
#: analytics/click identifiers that vary per visit without changing the
#: resource (utm_* campaign tags, Facebook/Google/Microsoft click ids,
#: Mailchimp email id, generic ref). ONE definition: the regex form
#: (used by docs/tests as the spec) derives from the executed name set.
_TRACKING_NAMES = ("fbclid", "gclid", "msclkid", "mc_eid", "ref")
TRACKING_PARAM_RE = r"^(utm_[^=]*|" + "|".join(_TRACKING_NAMES) + r")(=|$)"

#: Two-level public suffixes for the registrable-domain heuristic. A
#: full Public Suffix List is a runtime data file at deployment; this
#: built-in set covers the dominant ccTLD families and keeps the
#: function a pure literal expression. Hosts under an unlisted 2-level
#: suffix resolve one label short — documented approximation.
SECOND_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "com.tr", "com.ar",
    "co.in", "co.kr", "co.za", "co.nz",
)


def url_authority(url: Column) -> Column:
    return F.regexp_extract(url, _URL_RE, 2)


def _split_host_port(auth: Column) -> tuple[Column, Column]:
    """(lowercased host, port-or-'') from an authority, via string ops
    plus one cheap end-anchored regex (the FQDN-dot strip) — the
    unanchored/per-element regexes that cost ~10× at bench are gone.
    Userinfo strips at the LAST '@' (RFC: a host cannot contain '@');
    a trailing ':[digits]' (possibly empty) is the port."""
    no_user = F.substring_index(auth, "@", -1)
    tail = F.substring_index(no_user, ":", -1)
    is_port = (
        (F.instr(no_user, ":") > 0)
        & (F.length(F.translate(tail, "0123456789", "")) == 0)
    )
    host = F.when(
        is_port,
        F.substring(no_user, 1, F.length(no_user) - F.length(tail) - 1),
    ).otherwise(no_user)
    # DNS FQDN root dot: 'example.com.' ≡ 'example.com' — strip it so
    # dedup keys and domain caps never split on the dot variant
    # two-arg rtrim (TRIM TRAILING): pure string op, replacing the
    # r"\.+$" regexp_replace that cost a regex pass per reference
    host = F.call_function("rtrim", F.lit("."), host)
    return F.lower(host), F.when(is_port, tail).otherwise(F.lit(""))


# Single-pass splitter: ONE anchored DOTALL regex rewrites the URL as
# scheme/authority/path/query joined on \x01 (a character no sane URL
# contains — inputs carrying it classify as malformed, which they
# are). Every component then falls out of cheap split/get string ops,
# and because every caller builds the IDENTICAL regexp_replace/split
# subtree (via _url_parts), Spark's subexpression elimination runs the
# regex once per row even when normalize + domain are computed side by
# side — vs one regex pass per component with per-group regexp_extract
# (the r7 bench's dominant per-row cost on this module).
_SPLIT_SEP = "\x01"
_SPLIT_RE = (
    r"(?s)^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?([^#]*))?.*$"
)


def _url_parts(url: Column) -> Column:
    """[scheme, authority, path, query] — or a 1-element array (the
    input unchanged) when the URL is malformed / contains \\x01."""
    marked = F.regexp_replace(
        url, _SPLIT_RE, f"$1{_SPLIT_SEP}$2{_SPLIT_SEP}$3{_SPLIT_SEP}$5"
    )
    return F.split(marked, _SPLIT_SEP, -1)


def url_host(url: Column) -> Column:
    """Lowercased host with any :port and any userinfo@ stripped.

    Deliberately the LIGHT prefix-anchored authority extract, not the
    shared full-consume splitter: host-only callers (domain caps,
    blocklists) don't reuse scheme/path/query, and Catalyst's filter
    pushdown re-inlines whatever expression backs a domain predicate —
    a cheap regex inlined twice beats an expensive one inlined twice
    (measured 1.8× on the domain_cap bench row)."""
    return _split_host_port(url_authority(url))[0]


def url_query(url: Column) -> Column:
    return F.regexp_extract(url, _QUERY_RE, 1)


def normalized_query(url: Column) -> Column:
    """Query string with tracking params dropped and the survivors
    sorted — parameter order never distinguishes two fetches of the
    same resource. '' when nothing survives.

    The drop test is string ops on the param NAME (the part before the
    first '='), semantically identical to TRACKING_PARAM_RE — a regex
    inside a higher-order lambda runs interpreted per element and
    dominated the whole normalization at bench."""
    return _normalize_query_string(url_query(url))


def _normalize_query_string(raw_query: Column) -> Column:
    """normalized_query on an already-extracted query string."""
    params = F.split(raw_query, "&")

    def keep(p: Column) -> Column:
        name = F.substring_index(p, "=", 1)
        return (
            (p != "")
            & ~name.startswith("utm_")
            & ~name.isin(*_TRACKING_NAMES)
        )

    return F.array_join(F.array_sort(F.filter(params, keep)), "&")


def url_normalize(url: Column) -> Column:
    """Canonical URL: lowercase scheme+host, userinfo dropped, default
    ports (http:80 / https:443) dropped, empty path → '/', tracking
    params dropped + query sorted, fragment dropped. Malformed inputs
    (no scheme://) normalize to NULL rather than a half-parsed string —
    downstream dedup must not merge garbage. One shared single-pass
    parse (_url_parts) feeds every component."""
    return _normalize_from_parts(_url_parts(url))


def _normalize_from_parts(parts: Column) -> Column:
    """url_normalize over an already-split parts array (ideally a
    materialized column — with_normalized_url)."""
    ok = F.size(parts) == 4  # no match (or embedded \x01) => malformed
    # F.get, not [i]: a malformed URL splits to 1 element and ANSI mode
    # turns [1] into an ArrayIndexOutOfBounds error, not a NULL
    scheme = F.lower(F.get(parts, 0))
    host, port = _host_port_from_parts(parts)
    path = F.when(F.get(parts, 2) == "", F.lit("/")).otherwise(
        F.get(parts, 2)
    )
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == "80"))
        & ~((scheme == F.lit("https")) & (port == "443"))
    )
    q = _normalize_query_string(F.get(parts, 3))
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return F.when(ok & (scheme != "") & (host != ""), rebuilt)


def _host_port_from_parts(parts: Column) -> tuple[Column, Column]:
    auth = F.when(F.size(parts) == 4, F.get(parts, 1)).otherwise(F.lit(""))
    return _split_host_port(auth)


def registrable_domain(host: Column) -> Column:
    """Site-level key: last two host labels, or last three when the
    last two are a known second-level public suffix (``co.uk`` etc.).
    A bare suffix (host == 'co.uk') falls back to itself. Hosts with
    EMPTY labels ('a..com', a stray trailing dot) return unchanged —
    collapsing every '*..com' to a shared '.com' key would merge
    unrelated sites under one domain cap (review r6)."""
    # end-anchored regex extraction, NOT array split+slice: the
    # backward scan beats array allocation per row (measured ~3× on
    # the domain-cap bench row), and `[^.]+` labels make empty-label
    # hosts ('a..com') no-match → the nullif fallback keeps them
    # distinct for free
    last2 = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    last3 = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    return F.when(
        last2.isin(*SECOND_LEVEL_SUFFIXES),
        F.coalesce(F.nullif(last3, F.lit("")), host),
    ).otherwise(F.coalesce(F.nullif(last2, F.lit("")), host))


def url_domain(url: Column) -> Column:
    """Registrable domain straight from a raw URL ('' host → NULL).

    Composable form — when normalizing AND keying the same column,
    prefer with_normalized_url: this expression re-parses the URL per
    host reference (registrable_domain's fallbacks reference the host
    4×, and CaseWhen branches sit outside codegen subexpression
    elimination)."""
    return registrable_domain(F.nullif(url_host(url), F.lit("")))


def with_normalized_url(
    df: DataFrame,
    url_col: str,
    norm_col: str = "norm",
    domain_col: str = "domain",
) -> DataFrame:
    """Attach the canonical URL and its registrable domain in ONE parse
    pass per row: the host materializes as a real column between two
    projections, so registrable_domain's multiple host references read
    an attribute instead of re-inlining the parse (CollapseProject
    keeps the barrier — the host is non-cheap and multiply referenced).
    Measured ~1.5× the whole urlnorm bench row vs the inline
    expression pair. Still a zero-shuffle projection chain."""
    step0 = df.withColumn("__url_parts", _url_parts(F.col(url_col)))
    host = F.nullif(
        _host_port_from_parts(F.col("__url_parts"))[0], F.lit("")
    )
    step1 = step0.withColumns(
        {
            norm_col: _normalize_from_parts(F.col("__url_parts")),
            "__url_host": host,
        }
    )
    return step1.withColumn(
        domain_col, registrable_domain(F.col("__url_host"))
    ).drop("__url_host", "__url_parts")


# ------------------------------------------- Public Suffix List support


def parse_psl(text: str) -> list[str]:
    """Parse Public Suffix List text (publicsuffix.org/list format)
    into its rule strings: one rule per non-comment line ('//' starts a
    comment), whitespace-trimmed, everything after the first whitespace
    ignored (the spec: 'the rule is the part before the first
    whitespace'). Markers are preserved: '!' exception prefix, '*'
    wildcard labels. Section markers (===BEGIN ICANN DOMAINS===) live
    inside comments and need no handling."""
    rules: list[str] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("//"):
            continue
        rules.append(line.split()[0])
    return rules


def registrable_domain_psl(host: Column, rules: list[str]) -> Column:
    """Registrable domain under an explicit Public Suffix List — the
    exact publicsuffix.org algorithm: among matching rules an exception
    rule ('!' prefix) prevails, else the rule with the most labels; a
    '*' label matches exactly one host label; no match falls back to
    the implicit '*' rule (public suffix = last label). The registrable
    domain is the public suffix plus one label; a host that IS a public
    suffix, or carries empty labels ('a..com'), returns unchanged —
    same guard as the heuristic (collapsing '*..com' to '.com' would
    merge unrelated sites under one cap key).

    Scale shape: the rule set partitions by label depth into plain
    Python frozensets that compile to Catalyst ``InSet`` (O(1) hash
    probe inside whole-stage codegen) — the full ~10k-rule PSL stays a
    ZERO-shuffle, zero-join, zero-UDF projection, exactly like the
    built-in heuristic. Rules ship with the plan; for rule sets far
    beyond the real PSL use a broadcast join on the depth keys instead
    (the B12 ACL shape, sketched in domain_blocklist_filter)."""
    exact: dict[int, set] = {}
    wild: dict[int, set] = {}
    exc: dict[int, set] = {}
    for r in rules:
        is_exc = r.startswith("!")
        body = r[1:] if is_exc else r
        k = body.count(".") + 1
        if is_exc:
            exc.setdefault(k, set()).add(body)
        elif body.startswith("*."):
            # keyed by the (k-1)-label tail the wildcard must precede
            wild.setdefault(k, set()).add(body[2:])
        elif body == "*":
            wild.setdefault(1, set()).add("")
        else:
            exact.setdefault(k, set()).add(body)

    nlabels = F.length(host) - F.length(F.translate(host, ".", "")) + 1
    malformed = (
        host.isNull()
        | (host == "")
        | host.startswith(".")
        | (F.instr(host, "..") > 0)
    )

    def last(k: int) -> Column:
        return F.substring_index(host, ".", -k)

    # public-suffix label count: exceptions first (longest wins, ps is
    # the rule minus its leftmost label), then plain/wildcard matches
    # (longest wins), then the implicit '*' default
    branches: list[Column] = []
    for k in sorted(exc, reverse=True):
        branches.append(
            F.when((nlabels >= k) & last(k).isin(*sorted(exc[k])), k - 1)
        )
    depths = sorted(set(exact) | set(wild), reverse=True)
    for k in depths:
        hit = F.lit(False)
        if k in exact:
            hit = hit | last(k).isin(*sorted(exact[k]))
        if k in wild:
            if k == 1:
                hit = hit | F.lit("" in wild[1])
            else:
                hit = hit | last(k - 1).isin(*sorted(wild[k]))
        branches.append(F.when((nlabels >= k) & hit, k))
    ps = F.coalesce(*branches, F.lit(1)) if branches else F.lit(1)

    n = ps + F.lit(1)
    reg = F.array_join(F.slice(F.split(host, r"\."), -n, n), ".")
    return F.when(malformed | (nlabels <= ps), host).otherwise(reg)


# ------------------------------------------------------------ operators


def domain_cap(
    df: DataFrame,
    url_col: str,
    cap: int,
    order: list[Column],
    domain_col: str = "domain",
    salted: bool = False,
    n_salts: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` documents per registrable domain, best
    first under the caller's total order (quality score, length, …; a
    deterministic tie-break column is the caller's contract, as
    everywhere). ONE shuffle on the domain key; ``salted=True``
    switches to the two-stage skew-resistant rank
    (operators.topk.top_k_per_group_salted) for corpora where one
    viral domain would serialize the window stage — identical results
    (pytest-pinned), one extra (group, salt)-keyed shuffle."""
    from jane_spark.operators.topk import top_k_per_group, top_k_per_group_salted

    with_dom = _with_domain(df, url_col, domain_col)
    if salted:
        return top_k_per_group_salted(
            with_dom, [domain_col], order, cap, n_salts=n_salts
        ).drop("rn")
    return top_k_per_group(with_dom, [domain_col], order, cap).drop("rn")


def domain_blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocked_domains: list[str],
    domain_col: str = "domain",
) -> DataFrame:
    """Drop documents whose registrable domain is on a blocklist.
    A literal list compiles to an isin predicate (pushdown-visible);
    for blocklists too large to inline, join a broadcast DataFrame
    instead (B12 ACL shape)."""
    with_dom = _with_domain(df, url_col, domain_col)
    return with_dom.filter(
        ~F.coalesce(F.col(domain_col).isin(*blocked_domains), F.lit(False))
    )


def _with_domain(df: DataFrame, url_col: str, domain_col: str) -> DataFrame:
    """Attach the registrable domain with the URL parse materialized
    ONCE (the with_normalized_url barrier): url_domain as a bare
    expression re-inlines the parse per host reference —
    registrable_domain's fallbacks reference it 4× and CaseWhen
    branches sit outside codegen subexpression elimination (measured
    ~2× on the domain_cap bench row)."""
    step = df.withColumn(
        "__url_host", F.nullif(url_host(F.col(url_col)), F.lit(""))
    )
    return step.withColumn(
        domain_col, registrable_domain(F.col("__url_host"))
    ).drop("__url_host")
