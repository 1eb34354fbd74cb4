"""URL operators for web-corpus pipelines.

North-star extensions: every major web pre-training corpus curates by
URL — C4 filtered on a blocklist of domains, RefinedWeb/FineWeb
URL-dedup before content dedup (the cheapest dedup tier: one string
key per document, no content reads), and all of them normalize first
so `HTTP://Example.com/a?utm_source=x` and `http://example.com/a`
collapse.

Spark-first shape: every operator is a PURE column expression
(map-only at any scale, no UDF) built from
regexes in the Java∩RE2 dialect — no backreferences, no lookaround —
so each step replays in DuckDB SQL (pinned in tests/test_weburl.py).
URL dedup is the exact-dedup discipline (hash-groupBy on the
normalized key, never content); blocklist filtering broadcasts.

Scope notes (documented approximations):
- ``registered_domain`` defaults to a BUNDLED curated subset of the
  Public Suffix List (``data/public_suffix_list.dat``, ~1.1k
  multi-label rules: ICANN second-level registries incl. JP
  wildcard/exception city rules and the US state hierarchy, plus the
  web-corpus private suffixes — blogspot.com, github.io, …); pass
  ``psl=path_to_public_suffix_list.dat`` to any keying operator for
  the full downloaded PSL (~9.6k rules) on exotic registries, or
  ``psl=False`` for the embedded 2-label list. Rules render into one
  SQL expression at plan time, so workers never need the file.
- ``normalize_url`` lowercases scheme+host (case-insensitive by RFC
  3986), preserves path/query case (significant), drops fragments,
  userinfo, default ports, and the common tracking parameters.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "url_host",
    "url_scheme",
    "surt_key",
    "normalize_url",
    "registered_domain",
    "parse_psl",
    "load_psl",
    "default_psl",
    "psl_duckdb_case",
    "url_dedup",
    "filter_domain_blocklist",
    "filter_domain_blocklist_df",
    "psl_coverage_report",
    "domain_link_graph",
    "domain_pagerank",
    "domain_harmonic_centrality",
    "join_domain_prior",
    "expand_seed_domains",
    "TRACKING_PARAMS",
    "MULTI_LABEL_SUFFIXES",
    "PSL_SNIPPET_PATH",
    "BUNDLED_PSL_PATH",
]

import os as _os

#: A real-rules PSL excerpt shipped with the package (wildcard +
#: exception examples included) — the dev/test stand-in for the full
#: downloaded public_suffix_list.dat.
PSL_SNIPPET_PATH = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "data",
    "psl_snippet.dat",
)

#: The bundled curated PSL subset (r10) — ~1.1k high-traffic
#: multi-label rules (ICANN second-level registries incl. the JP
#: wildcard/exception city rules and the US state hierarchy, plus the
#: web-corpus-critical private-section hosts like blogspot.com /
#: github.io). This is the DEFAULT ruleset for
#: :func:`registered_domain`; swap in a downloaded full
#: ``public_suffix_list.dat`` (MPL-2.0, ~9.6k rules) via ``psl=path``
#: when crawling exotic registries.
BUNDLED_PSL_PATH = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "data",
    "public_suffix_list.dat",
)

_DEFAULT_PSL_CACHE: list = []


def default_psl() -> Optional[dict]:
    """Parsed bundled ruleset (:data:`BUNDLED_PSL_PATH`), cached after
    the first load — plan construction calls this per expression, the
    ~10 KB parse must not repeat. Returns None when the data file is
    missing from the installation (→ callers fall back to the embedded
    :data:`MULTI_LABEL_SUFFIXES` 2-label chain)."""
    if not _DEFAULT_PSL_CACHE:
        try:
            _DEFAULT_PSL_CACHE.append(load_psl(BUNDLED_PSL_PATH))
        except OSError:
            _DEFAULT_PSL_CACHE.append(None)
    return _DEFAULT_PSL_CACHE[0]


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


# scheme://[userinfo@]host[:port]  — the authority prefix all the
# extractors share. Group 1 = scheme, group 2 = host[:port].
_AUTH_RX = r"^([A-Za-z][A-Za-z0-9+.\-]*)://(?:[^/@?#]*@)?([^/?#]*)"

# Tracking parameters every pipeline strips (Google/Facebook/Mailchimp
# click ids + the utm_* family). Kept as one alternation so the strip
# is a single regexp_replace.
TRACKING_PARAMS = (
    "utm_[A-Za-z0-9_]+|fbclid|gclid|dclid|msclkid|mc_cid|mc_eid|igshid"
)

# Common multi-label public suffixes (PSL excerpt): when a host ends
# in one of these, the registered domain takes THREE labels
# (bbc.co.uk), not two (co.uk). A deployment swaps in the full PSL.
MULTI_LABEL_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br",
    "co.in", "net.in", "org.in",
    "co.nz", "net.nz", "org.nz",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.tw", "com.hk", "com.sg", "com.my",
    "co.kr", "or.kr", "co.za", "com.mx", "com.ar", "com.tr",
]


def url_scheme(col) -> Column:
    """Lowercased scheme, '' when the value is not a scheme://-URL."""
    return F.lower(F.regexp_extract(F.trim(_c(col)), _AUTH_RX, 1))


def url_host(col) -> Column:
    """Lowercased host (no port, no userinfo), '' for non-URLs.

    A trailing dot (``example.com.`` — a rooted FQDN) is dropped so
    the rooted and unrooted spellings key identically."""
    hostport = F.lower(F.regexp_extract(F.trim(_c(col)), _AUTH_RX, 2))
    host = F.regexp_replace(hostport, r":[0-9]*$", "")
    return F.regexp_replace(host, r"\.$", "")


def surt_key(col) -> Column:
    """SURT-form URL key (Sort-friendly URI Reordering Transform —
    the key scheme of Common Crawl's CDX index and every web-archive
    CDX tool): host labels REVERSED and comma-joined, ``www.``
    dropped, a NON-DEFAULT port kept on the host part
    (``com,example:8080)/``), then ``)`` + the lowercased path+query
    with query parameters SORTED (the IA canonicalizer's alphabetized
    query, so ``?b=2&a=1`` and ``?a=1&b=2`` key identically), the
    EMPTY path normalized to ``/`` before the query attaches
    (``https://example.com?a=1`` → ``com,example)/?a=1``) and empty
    params from ``&&`` runs or a trailing ``&`` dropped — both IA
    canonicalizer rules real cc-index urlkeys apply —
    ``https://www.Example.co.uk/A/b?x=1`` → ``uk,co,example)/a/b?x=1``.
    Pure expressions; join/prefix-filter this against
    :func:`~lantern_spark.sources.warc.read_cdx`'s ``urlkey`` to plan
    range reads from plain URL tables. Non-URLs → ``''``.

    Coverage note: real cc-index urlkeys apply a few further
    lossy steps (session-id param stripping, %-escape case folding);
    an equality join against them is exact for the vast majority of
    captures — use a host/path PREFIX filter when those edge forms
    matter."""
    u = F.trim(_c(col))
    scheme = url_scheme(col)
    host = F.regexp_replace(url_host(col), r"^www\.", "")
    hostport = F.lower(F.regexp_extract(u, _AUTH_RX, 2))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    rev = F.concat_ws(
        ",", F.reverse(F.split(host, r"\."))
    )
    rest = F.lower(F.regexp_extract(u, _AUTH_RX + r"([^#]*)", 3))
    path = F.substring_index(rest, "?", 1)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    # IA canonicalizer parity (r13 advice): the EMPTY path normalizes
    # to '/' BEFORE the query is appended (a pathless-query URL keys
    # as 'com,example)/?a=1', not 'com,example)?a=1'), and empty query
    # params from '&&' runs / a trailing '&' are DROPPED before the
    # sort — real cc-index urlkeys do both, so an equality join missed
    # exactly these captures.
    qarr = F.filter(F.split(query, "&"), lambda x: x != "")
    sorted_q = F.concat_ws("&", F.array_sort(qarr))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rest = F.when(F.size(qarr) == 0, path).otherwise(
        F.concat(path, F.lit("?"), sorted_q)
    )
    return F.when(host == "", F.lit("")).otherwise(
        F.concat(
            rev,
            F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(
                F.lit("")
            ),
            F.lit(")"),
            rest,
        )
    )


def normalize_url(col, strip_params: Optional[str] = None) -> Column:
    """Canonical URL key for dedup/joins. Steps (each a documented
    normalization every major pipeline applies):

    - lowercase scheme and host (RFC 3986: case-insensitive);
    - drop userinfo (``user:pass@``) and the scheme's default port
      (http:80 / https:443 — other ports are significant and kept);
    - drop the fragment (never sent to the server);
    - strip tracking query parameters (``strip_params`` overrides the
      :data:`TRACKING_PARAMS` alternation), collapsing the leftover
      ``?``/``&`` punctuation;
    - empty path → ``/`` so ``http://a.com`` ≡ ``http://a.com/``.

    Path and remaining-query case is PRESERVED (significant). Values
    that are not scheme://-URLs pass through trimmed-unchanged —
    normalization must never manufacture collisions from non-URL
    junk."""
    u = F.trim(_c(col))
    scheme = url_scheme(col)
    host = url_host(col)
    hostport = F.lower(F.regexp_extract(u, _AUTH_RX, 2))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    # path + query, fragment dropped (everything after the authority,
    # up to the first '#')
    rest = F.regexp_extract(u, _AUTH_RX + r"([^#]*)", 3)
    pat = strip_params if strip_params is not None else TRACKING_PARAMS
    # strip tracking params wherever they sit in the query; then
    # normalize the leftover separators: '?&' -> '?', '&&' runs -> '&',
    # and a dangling '?' or '&' disappears
    rest = F.regexp_replace(rest, r"(" + pat + r")=[^&#]*", "")
    rest = F.regexp_replace(rest, r"&&+", "&")
    rest = F.regexp_replace(rest, r"\?&", "?")
    rest = F.regexp_replace(rest, r"[?&]+$", "")
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        rest,
    )
    return F.when(scheme == "", u).otherwise(rebuilt)


def parse_psl(text: str) -> dict:
    """Parse Public Suffix List text (the standard
    ``public_suffix_list.dat`` format: ``//`` comments, blank lines,
    one rule per line; ``*.base`` wildcard rules; ``!rule``
    exceptions) into the rule sets :func:`registered_domain` compiles
    into expressions:

    ``{"exact": {label_count: set}, "wildcard": {base_label_count:
    set}, "exception": {label_count: set}}``

    Single-label exact rules (plain TLDs — the bulk of the file) are
    dropped: they are the default 2-label registered-domain rule
    already. Rules are lowercased; IDN rules are kept in whatever form
    the file uses (unicode in the canonical PSL) — hosts must be in
    the SAME form to match (document your pipeline's IDN
    normalization)."""
    exact, wildcard, exception = {}, {}, {}
    for line in text.splitlines():
        line = line.strip().lower()
        if not line or line.startswith("//"):
            continue
        if line.startswith("!"):
            rule = line[1:]
            exception.setdefault(rule.count(".") + 1, set()).add(rule)
        elif line.startswith("*."):
            base = line[2:]
            wildcard.setdefault(base.count(".") + 1, set()).add(base)
        else:
            k = line.count(".") + 1
            if k >= 2:
                exact.setdefault(k, set()).add(line)
    return {"exact": exact, "wildcard": wildcard, "exception": exception}


def load_psl(path: str) -> dict:
    """:func:`parse_psl` over a file — point this at a downloaded
    ``public_suffix_list.dat`` for full-PSL eTLD+1. The package ships
    ``lantern_spark/data/psl_snippet.dat`` (a small real excerpt with
    wildcard/exception examples) as a test/dev stand-in."""
    with open(path, encoding="utf-8") as fh:
        return parse_psl(fh.read())


def _ruleset(psl, extra_suffixes=()) -> dict:
    """The parsed ruleset a ``psl`` argument names, with
    ``extra_suffixes`` merged in as exact rules (copy-on-write — the
    shared default ruleset is never mutated). ``None`` is the bundled
    default; ``False`` (or a missing bundle) is the embedded
    :data:`MULTI_LABEL_SUFFIXES` list, which is exactly the ruleset of
    its 2-label exact rules; a string is a ``public_suffix_list.dat``
    path."""
    if psl is None:
        psl = default_psl()
    if psl is None or psl is False:
        psl = {"exact": {2: set(MULTI_LABEL_SUFFIXES)}}
    elif isinstance(psl, str):
        psl = load_psl(psl)
    merged = {
        "exact": {k: set(v) for k, v in psl.get("exact", {}).items()},
        "wildcard": psl.get("wildcard", {}),
        "exception": psl.get("exception", {}),
    }
    for s in extra_suffixes:
        s = s.strip().lower()
        k = s.count(".") + 1
        if k >= 2:
            merged["exact"].setdefault(k, set()).add(s)
    return merged


def _registered_domain_sql(host_sql: str, psl: dict) -> str:
    """Spark-SQL text of eTLD+1 over the host expression ``host_sql``
    under the ruleset ``psl`` (a :func:`_ruleset` dict) — the one
    renderer behind :func:`registered_domain` and the SQL function of
    :func:`~lantern_spark.sqlapi.install_url_functions`.

    The rule CASE sits inside a lambda that binds the host's label
    array ``ls`` once: ``element_at(transform(array(split(host)),
    ls -> CASE … END), 1)``. Binding splits the host once per row
    instead of once per arm, and the higher-order function keeps the
    CASE out of whole-stage codegen by construction (it is
    CodegenFallback), so however many rules the ruleset carries no
    generated method grows with it — no fences, no exile wrappers.
    Arms run in PSL priority order: exceptions (the exception itself
    is the registered domain), then rules by effective suffix length
    descending (a wildcard ``*.base`` counts base+1 labels), then the
    2-label default. A host that IS a public suffix, or has <2 labels,
    comes back unchanged. :func:`psl_duckdb_case` is the independent
    DuckDB-dialect oracle."""
    n = "size(ls)"
    host = "array_join(ls, '.')"

    def lastk(k: int) -> str:
        parts = ", ".join(f"element_at(ls, -{j})" for j in range(k, 0, -1))
        return f"concat_ws('.', {parts})"

    def inlist(vals) -> str:
        return ", ".join(
            "'" + v.replace("'", "''") + "'" for v in sorted(vals)
        )

    arms = []
    for k in sorted(psl["exception"], reverse=True):
        arms.append(
            f"WHEN {n} >= {k} AND {lastk(k)} IN "
            f"({inlist(psl['exception'][k])}) THEN {lastk(k)}"
        )
    suffix_lens = sorted(
        {k + 1 for k in psl["wildcard"]} | set(psl["exact"]), reverse=True
    )
    for s in suffix_lens:
        if s - 1 in psl["wildcard"]:
            wc = inlist(psl["wildcard"][s - 1])
            arms.append(
                f"WHEN {n} >= {s + 1} AND {lastk(s - 1)} IN ({wc}) "
                f"THEN {lastk(s + 1)}"
            )
            arms.append(
                f"WHEN {n} = {s} AND {lastk(s - 1)} IN ({wc}) THEN {host}"
            )
        if s in psl["exact"]:
            ex = inlist(psl["exact"][s])
            arms.append(
                f"WHEN {n} >= {s + 1} AND {lastk(s)} IN ({ex}) "
                f"THEN {lastk(s + 1)}"
            )
            arms.append(
                f"WHEN {n} = {s} AND {lastk(s)} IN ({ex}) THEN {host}"
            )
    case = (
        f"CASE WHEN {n} <= 1 THEN {host} {' '.join(arms)} "
        f"ELSE {lastk(2)} END"
    )
    return (
        f"element_at(transform(array(split({host_sql}, '\\\\.')), "
        f"ls -> {case}), 1)"
    )


def _url_host_sql(u: str) -> str:
    """:func:`url_host` as Spark-SQL text over the SQL expression
    ``u`` (regexes double their backslashes for the SQL string-literal
    escape pass)."""
    rx = _AUTH_RX.replace("\\", "\\\\").replace("'", "''")
    return (
        "regexp_replace(regexp_replace(lower(regexp_extract("
        f"trim({u}), '{rx}', 2)), ':[0-9]*$', ''), '\\\\.$', '')"
    )


def registered_domain(
    col: str, extra_suffixes: Iterable[str] = (), psl=None,
    col_is_host: bool = False,
) -> Column:
    """eTLD+1 of the URL column named ``col`` as a pure column
    expression (one SQL parse JVM-side, no UDF; workers never need
    the rules file).

    Default (``psl=None``): the BUNDLED curated PSL subset
    (:func:`default_psl` — exact + wildcard + exception rules, so
    ``bbc.co.uk`` → ``bbc.co.uk``; under ``*.nagoya.jp`` the public
    suffix is ``foo.nagoya.jp`` so ``x.shop.foo.nagoya.jp`` →
    ``shop.foo.nagoya.jp``; the ``!city.nagoya.jp`` exception keeps
    ``city.nagoya.jp`` registrable — all with NO arguments, the
    safe-by-default contract).
    ``extra_suffixes`` merge in as additional exact rules. If the
    bundled data file is absent, falls back to the embedded
    :data:`MULTI_LABEL_SUFFIXES` 2-label rules — also selectable
    explicitly with ``psl=False``.

    Full PSL: pass ``psl`` as a ``public_suffix_list.dat`` path or a
    parsed rule dict (:func:`parse_psl`). The ~9.6k-rule list renders
    in milliseconds into the same expression form (see
    :func:`_registered_domain_sql` for the algorithm and the codegen
    shape), so every keying operator takes full-PSL coverage through
    this one argument.

    Hosts with <2 labels (``localhost``; IPv4 literals are 4 numeric
    labels and pass through the 2-label rule — screen infrastructure
    hosts first) return the host unchanged, as does a host that IS a
    public suffix (no registered domain exists). NULL and non-URL
    values key to ``''``.

    ``col_is_host=True`` treats ``col`` as an already-extracted HOST
    (lowercased internally) instead of a URL."""
    if not isinstance(col, str):
        raise TypeError(
            f"registered_domain takes a column name, got {type(col)!r}"
        )
    # F.col("a.b") semantics: dot-separated multipart identifier
    q = ".".join(
        "`" + part.replace("`", "``") + "`" for part in col.split(".")
    )
    host = f"lower({q})" if col_is_host else _url_host_sql(q)
    return F.expr(
        _registered_domain_sql(host, _ruleset(psl, tuple(extra_suffixes)))
    )


def psl_duckdb_case(
    psl, host: str = "host", labels: str = "labels", n: str = "n"
) -> str:
    """DuckDB SQL ``CASE`` replaying :func:`registered_domain`'s PSL
    when-chain rule-for-rule — the oracle/test codegen counterpart
    (same priority order: exceptions, then rules by effective suffix
    length descending, then the 2-label default). ``host``/``labels``/
    ``n`` name SQL expressions for the lowercased host, its
    ``string_split(host, '.')`` list, and ``len(labels)``. Shared by
    the roster oracle (queries/dedup.py) and the pytest replay so the
    two codegens cannot drift from the Spark chain independently."""
    if isinstance(psl, str):
        psl = load_psl(psl)
    psl = {t: psl.get(t, {}) for t in ("exact", "wildcard", "exception")}

    def lastk(k: int) -> str:
        parts = ", ".join(f"{labels}[-{j}]" for j in range(k, 0, -1))
        return f"array_to_string([{parts}], '.')"

    def inlist(vals) -> str:
        return ", ".join(f"'{v}'" for v in sorted(vals))

    arms = []
    for k in sorted(psl["exception"], reverse=True):
        arms.append(
            f"WHEN {n} >= {k} AND list_contains([{inlist(psl['exception'][k])}], {lastk(k)}) THEN {lastk(k)}"
        )
    suffix_lens = sorted(
        {k + 1 for k in psl["wildcard"]} | set(psl["exact"]), reverse=True
    )
    for s in suffix_lens:
        if s - 1 in psl["wildcard"]:
            wc = inlist(psl["wildcard"][s - 1])
            arms.append(
                f"WHEN {n} >= {s + 1} AND list_contains([{wc}], {lastk(s - 1)}) THEN {lastk(s + 1)}"
            )
            arms.append(
                f"WHEN {n} = {s} AND list_contains([{wc}], {lastk(s - 1)}) THEN {host}"
            )
        if s in psl["exact"]:
            ex = inlist(psl["exact"][s])
            arms.append(
                f"WHEN {n} >= {s + 1} AND list_contains([{ex}], {lastk(s)}) THEN {lastk(s + 1)}"
            )
            arms.append(
                f"WHEN {n} = {s} AND list_contains([{ex}], {lastk(s)}) THEN {host}"
            )
    body = "\n             ".join(arms)
    return (
        f"CASE WHEN {n} <= 1 THEN {host}\n             "
        f"{body}\n             "
        f"ELSE {lastk(2)} END"
    )


def url_dedup(
    df: DataFrame,
    url_col: str,
    id_col: str,
    normalize: bool = True,
) -> DataFrame:
    """First-occurrence-keep dedup on the (normalized) URL — the
    cheapest dedup tier (RefinedWeb runs it BEFORE any content read:
    one shuffle on a short string key kills exact re-crawls and
    tracking-param duplicates). Smallest ``id_col`` wins per key, the
    repo's deterministic survivor convention. Rows with NULL/empty
    URLs are kept (no key to collide on).

    Scale: one hash-partitioned window on md5(key) — never content;
    the key cardinality ≈ corpus size so no skewed-key hazard beyond
    genuinely mega-duplicated URLs (which this exists to remove).
    NULL/empty-URL rows (kept by definition) get a UNIQUE per-row
    window key instead of funneling through the single md5(NULL)
    partition (r10, review r9 nit 2 — the line-dedup exempt-row
    pattern, dedup.py line_dedup): a 90%-no-URL corpus no longer
    lands 90% of the window shuffle in one task."""
    key = (
        normalize_url(url_col) if normalize else F.trim(F.col(url_col))
    )
    eligible = F.col(url_col).isNotNull() & (
        F.trim(F.col(url_col)) != ""
    )
    # concat (not concat_ws) so a NULL id does NOT collapse every
    # null-id/no-URL row onto one shared '__nourl' key (concat_ws
    # skips NULLs — review finding: two url=NULL,id=NULL rows would
    # dedup each other); monotonically_increasing_id breaks the
    # remaining ties — acceptable nondeterminism because these rows
    # are all KEPT by contract, the key only provides uniqueness.
    url_key = F.when(eligible, F.md5(key)).otherwise(
        F.when(
            F.col(id_col).isNotNull(),
            F.concat(F.lit("__nourl:"), F.col(id_col).cast("string")),
        ).otherwise(
            F.concat(
                F.lit("__nourl_anon:"),
                F.monotonically_increasing_id().cast("string"),
            )
        )
    )
    keyed = df.withColumn("__url_key", url_key)
    w = Window.partitionBy("__url_key").orderBy(F.col(id_col).asc())
    out = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__url_key")
    )
    return out


def filter_domain_blocklist(
    df: DataFrame,
    url_col: str,
    blocked_domains: Sequence[str],
    keep_blocked: bool = False,
    psl=None,
) -> DataFrame:
    """Drop (or keep, with ``keep_blocked=True``) rows whose URL's
    registered domain is in ``blocked_domains`` — the C4 blocklist
    filter. Matching is by REGISTERED DOMAIN, so ``ads.example.com``
    is blocked by ``example.com`` (subdomain-inclusive, the blocklist
    semantics every pipeline uses).

    Entries that are PUBLIC SUFFIXES under the active PSL (r10,
    review finding): the bundled PSL's private section makes
    ``blogspot.com``/``github.io`` public suffixes, so the PSL
    registered domain of a spam blog is ``spam.blogspot.com`` — a
    platform-wide blocklist entry ``blogspot.com`` would otherwise
    silently stop matching the moment the bundled PSL became the
    default. Such entries (detected once, driver-side, by replaying
    the rule chain in Python) additionally match via the legacy
    2-label domain and the exact host; ordinary-domain entries — the
    bulk of every real blocklist — pay only the single PSL probe, so
    the extra URL-parse trees exist in the plan only when a platform
    entry exists in the list.

    ``blocked_domains`` sized like real blocklists (10³-10⁵ entries)
    compiles into an ``isin`` literal set evaluated JVM-side; for
    larger lists use :func:`filter_domain_blocklist_df` (broadcast
    join) — this helper intentionally takes the common literal path.
    The filter tests the registered-domain expression directly: its
    rule CASE never enters generated code (see
    :func:`_registered_domain_sql`)."""
    entries = [d.lower() for d in blocked_domains]
    rules = _ruleset(psl)
    platform = [e for e in entries if _is_public_suffix(e, rules)]
    hit = registered_domain(url_col, psl=rules).isin(entries)
    if platform:
        legacy = registered_domain(url_col, psl=False)
        host = url_host(url_col)
        hit = hit | legacy.isin(platform) | host.isin(platform)
    return df.filter(hit if keep_blocked else ~F.coalesce(hit, F.lit(False)))


def filter_domain_blocklist_df(
    df: DataFrame,
    url_col: str,
    blocked: DataFrame,
    id_col: str,
    domain_col: str = "domain",
    keep_blocked: bool = False,
    psl=None,
) -> DataFrame:
    """:func:`filter_domain_blocklist` for BIG lists (10⁶+ entries —
    real URL-reputation feeds): the blocklist is a DataFrame, matching
    is a broadcast LEFT SEMI join on the registered domain instead of
    a literal ``isin`` chain (literal plans stop scaling around 10⁵
    entries: the when-chain itself becomes megabytes of plan).

    Matches on the PSL registered domain, the legacy 2-label domain,
    and the exact host (the platform-suffix semantics of the literal
    variant, unconditionally — with a DataFrame list the membership
    test costs one broadcast hash probe either way, so there is
    nothing to gate). Each row contributes its ≤3 distinct probe keys
    via one explode; blocked ids come back through ``id_col`` (the
    repo's row-identity convention — joining back on all columns
    would silently never match rows containing NULLs).
    NULL/unparseable URLs are never 'blocked'.

    ``psl`` names the ruleset of the PSL probe — a downloaded
    ``public_suffix_list.dat`` path makes a blocklist entry under an
    exotic registry match exactly instead of through the 2-label
    fallback."""
    d = F.lower(F.trim(F.col(domain_col)))
    keys = blocked.select(d.alias("__probe")).where(
        F.col("__probe").isNotNull() & (F.col("__probe") != "")
    ).distinct()
    probe = F.array_distinct(
        F.array(
            registered_domain(url_col, psl=psl),
            registered_domain(url_col, psl=False),
            url_host(url_col),
        )
    )
    blocked_ids = (
        df.select(F.col(id_col), F.explode(probe).alias("__probe"))
        .join(F.broadcast(keys), "__probe", "left_semi")
        .select(id_col)
        .distinct()
    )
    return df.join(
        blocked_ids, id_col, "left_semi" if keep_blocked else "left_anti"
    )


def psl_coverage_report(
    df: DataFrame,
    url_col: str,
    psl,
    col_is_host: bool = False,
    max_examples: int = 20,
) -> dict:
    """Measure whether passing ``psl=`` matters for THIS corpus (r13,
    review r12 item 6): the fraction of distinct hosts whose eTLD+1
    under the bundled curated ruleset differs from their eTLD+1 under
    a fuller ruleset ``psl`` (a parsed dict, or a path to a downloaded
    ``public_suffix_list.dat``). Hosts under registries the curated
    subset lacks collapse onto WRONG keys — every pipeline keyed on
    the registered domain (URL dedup groups, link-graph nodes,
    blocklist matches, PageRank/harmonic mass) silently merges them.
    This report turns "should I pass ``psl=``?" into a number.

    Returns ``{"n_hosts", "n_diff", "diff_fraction", "examples":
    [(host, curated, full), ...]}``. Cost: ONE distinct-host shuffle
    over the corpus (host extraction is a map-only expression), both
    keyings as expressions over the distinct-host relation, and two
    bounded actions (one count aggregate + ≤``max_examples`` rows)
    that share the shuffle through a persisted ``keyed`` relation
    (r14, review r13 advice: without the persist, both actions
    re-ran the distinct AND both PSL keyings — the stated cost was
    half the real one). A NULL key on either side counts as a diff
    only when the other side is non-NULL (``eqNullSafe``). Cheap
    enough to run as a pre-flight on a 100 TB corpus sample.
    Guidance: USAGE.md §registered domains — pass ``psl=`` to every
    keying operator once ``diff_fraction`` is no longer noise for
    your keying use (rule of thumb: >1%, or ANY diff when the
    affected hosts are the corpus you care about)."""
    hosts = (
        df.select(
            (
                F.lower(_c(url_col)) if col_is_host else url_host(url_col)
            ).alias("__h")
        )
        .where(F.col("__h") != "")
        .distinct()
    )
    keyed = hosts.select(
        "__h",
        registered_domain("__h", col_is_host=True).alias("curated"),
        registered_domain("__h", psl=psl, col_is_host=True).alias("full"),
    )
    diff = ~F.col("curated").eqNullSafe(F.col("full"))
    keyed = keyed.persist()
    try:
        agg = keyed.agg(
            F.count("*").alias("n"),
            F.sum(diff.cast("long")).alias("nd"),
        ).first()
        n_hosts = int(agg["n"] or 0)
        n_diff = int(agg["nd"] or 0)
        examples = [
            (r["__h"], r["curated"], r["full"])
            for r in keyed.where(diff)
            .orderBy("__h")
            .limit(int(max_examples))
            .collect()
        ]
    finally:
        keyed.unpersist()
    return {
        "n_hosts": n_hosts,
        "n_diff": n_diff,
        "diff_fraction": (n_diff / n_hosts) if n_hosts else 0.0,
        "examples": examples,
    }


def _codegen_exile(col) -> Column:
    """Deterministic no-op (``element_at(transform(array(x), id), 1)``)
    that forces the containing operator OUT of whole-stage codegen:
    higher-order functions are CodegenFallback, and a project holding
    one is planned as a standalone ProjectExec whose row-based
    projection codegen CAN split oversized expressions into helper
    methods. Used where a regex/rule chain fused into a pipelined
    stage would exceed janino's 64 KB per-method limit — the pipeline
    consume path cannot split methods (locals span operators), so the
    compile fails and EVERY job pays seconds of doomed compilation
    before interpreted fallback (r12 finding, domain_link_graph)."""
    return F.element_at(F.transform(F.array(_c(col)), lambda x: x), 1)


def domain_link_graph(
    df: DataFrame,
    url_col: str,
    html_col: str,
    psl=None,
    drop_self_edges: bool = True,
) -> DataFrame:
    """The crawl's registered-domain LINK GRAPH in one pass:
    ``(src_domain, dst_domain, n_links)`` edges from raw pages —
    extract ``<a href>`` targets (:func:`~lantern_spark.functions.
    html.html_links`), resolve each to its target HOST
    (:func:`~lantern_spark.functions.html.link_host`, the host
    projection of resolve_link), collapse both ends to eTLD+1, and
    count. This is the input to
    centrality-style quality priors (Common Crawl ranks hosts by
    harmonic centrality on exactly this graph —
    :func:`domain_harmonic_centrality`; :func:`domain_pagerank` is
    the damped cousin) and to seed-expansion curation.

    Scale shape (r12): extraction and host projection are pure
    expressions fused into the page scan; the first shuffle counts
    (src_host, dst_host) pairs — edge-key cardinality, not page or
    link cardinality — and the PSL rule chain then runs ONCE per
    distinct HOST (a host map joined back), before a tiny
    re-aggregation onto the domain key. The r11 shape — full resolve
    chain + rule CASE inlined per link into the fused aggregate —
    blew janino's 64 KB method limit, so every run paid ~13 s of
    doomed compilation before interpreted fallback (11.5 s → 1.4 s
    steady at sf0.01 with this shape; see _codegen_exile and the
    in-function fence comments for the host-chain mechanisms).
    ``drop_self_edges`` removes intra-domain navigation (the bulk of
    raw edges, rarely wanted in a quality prior).

    ``psl`` keys BOTH graph ends: pass a downloaded
    ``public_suffix_list.dat`` path on a registry-diverse crawl —
    under the curated default, hosts under non-curated registries
    collapse onto wrong graph nodes (everything under a
    ``*.ck``-class registry becomes ONE node), skewing PageRank and
    seed expansion (r11 review nit 2)."""
    from lantern_spark.functions.html import html_links, link_host

    # The explode's input is fenced (non-deterministic no-op) so
    # InferFiltersFromGenerate can't add a `size(links) > 0` filter
    # that DUPLICATES the whole html_links extraction below the
    # Generate — the second copy is what pushed this stage's fused
    # method past janino's 64 KB limit (r12; see the pairs fence
    # below for the same story on the predicate side).
    gen_fence = F.rand(11) >= -1.0
    pages = df.select(
        F.col(url_col).alias("__src_url"),
        F.explode(
            F.when(gen_fence, html_links(html_col))
        ).alias("__link"),
    )
    # ONE shuffle on the raw edge key. link_host is the host
    # PROJECTION of resolve_link (path merging never changes the
    # authority) — the full resolve chain inlined here blew janino's
    # 64 KB method limit in the fused explode+agg stage (r12).
    # __sh staged in its own select and REUSED as link_host's
    # base_host: referenced twice and non-cheap, Catalyst keeps it
    # staged, so the fused stage evaluates (and generates) the source
    # host chain once instead of twice.
    hosted = pages.select(
        "__src_url", "__link", url_host("__src_url").alias("__sh")
    )
    # _codegen_exile keeps the host chains out of the fused agg stage
    # (standalone ProjectExec, method-splittable codegen) — fused,
    # the single agg method exceeds janino's 64 KB limit.
    pairs = (
        hosted.select(
            _codegen_exile("__sh").alias("__sh"),
            _codegen_exile(
                link_host(
                    F.col("__src_url"), F.col("__link"), base_host="__sh"
                )
            ).alias("__dh"),
        )
        .groupBy("__sh", "__dh")
        .agg(F.count("*").alias("__n"))
    )
    # Lazy lineage cut (plans/lineage.cut_lineage — localCheckpoint by
    # default, reliable/storage under checkpoint_mode), two jobs at
    # once:
    # 1. `pairs` is referenced THREE times downstream (the edge spine
    #    plus both sides of the host map) — as DataFrame subtrees
    #    those would re-run the edge-key shuffle per copy; an
    #    RDD-backed checkpoint is shared by identity, so the pair
    #    aggregation executes exactly once per job.
    # 2. It is also an optimizer boundary: downstream predicates (the
    #    ''-domain filter, self-edge filter, join isnotnull
    #    constraints) cannot push below it and REWRITE in terms of
    #    the extraction chains (isnotnull(url_host(link_host(…)))) —
    #    each such copy re-inflated the fused scan stage past
    #    janino's 64 KB method limit. Pushing them down would buy
    #    nothing anyway: the pair aggregation needs every link row.
    from lantern_spark.plans.lineage import cut_lineage

    pairs = cut_lineage(pairs, eager=False)
    # DISTINCT-HOST → domain map, joined back onto the pairs: the rule
    # CASE evaluates once per distinct host, in its own small stage.
    hmap = (
        pairs.select(F.explode(F.array("__sh", "__dh")).alias("__h"))
        .distinct()
        .select(
            "__h",
            registered_domain("__h", psl=psl, col_is_host=True).alias(
                "__d"
            ),
        )
    )
    # hmap feeds BOTH ends' joins below; as a plan subtree each
    # reference re-ran the distinct-host shuffle AND the PSL rule
    # chain (r14 optimization, guide §2.4) — a lazy cut computes the
    # map once and shares it by RDD identity.
    # scheduling_only (r15, r14 ADVICE): under durability modes a
    # per-call staged copy of the host map would be written (and leak
    # in storage mode).
    hmap = cut_lineage(hmap, eager=False, scheduling_only=True)
    # LEFT joins, deliberately: an inner join would push
    # isnotnull(__sh/__dh) below the pair aggregation, where the
    # predicate rewrites to isnotnull(url_host(resolve_link(…))) — two
    # more full copies of the extraction chain in the fused filter+agg
    # method, re-breaking the 64 KB limit. The hmap covers every host
    # by construction, and null-key rows fall to the ''-domain filter
    # below exactly as before.
    edges = (
        pairs.join(
            hmap.select(
                F.col("__h").alias("__sh"), F.col("__d").alias("src_domain")
            ),
            "__sh",
            "left",
        )
        .join(
            hmap.select(
                F.col("__h").alias("__dh"), F.col("__d").alias("dst_domain")
            ),
            "__dh",
            "left",
        )
        .select("src_domain", "dst_domain", "__n")
    )
    edges = edges.where(
        (F.col("src_domain") != "") & (F.col("dst_domain") != "")
    )
    if drop_self_edges:
        edges = edges.where(F.col("src_domain") != F.col("dst_domain"))
    return edges.groupBy("src_domain", "dst_domain").agg(
        F.sum("__n").cast("long").alias("n_links")
    )


def domain_pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src_col: str = "src_domain",
    dst_col: str = "dst_domain",
    weight_col: Optional[str] = "n_links",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Weighted PageRank over a domain edge list (the
    :func:`domain_link_graph` output) → ``(domain, rank)`` — the
    classic link-based quality prior (Common Crawl publishes exactly
    this family of host ranks; curation pipelines upweight
    high-centrality domains and drop orphaned spam clusters).

    Standard damped formulation with DANGLING-MASS redistribution
    (domains with no outlinks — most leaf domains in a crawl — donate
    their rank uniformly, keeping the distribution a distribution;
    dropping it silently deflates every rank, the common bug).
    ``weight_col=None`` treats every edge as weight 1.

    Scale shape: each iteration is one broadcast-or-shuffle join of
    the rank vector (|domains| rows, two columns) against the edge
    list plus a groupBy on the destination — the textbook distributed
    PageRank plan. Lineage is cut (plans/lineage.cut_lineage —
    ``localCheckpoint`` by default, durable under
    ``checkpoint_mode("reliable"|"storage")``) every
    ``checkpoint_every`` iterations (an iterative DataFrame loop
    otherwise compounds the plan until planning itself dominates).
    Deterministic: no sampling, fixed iteration count.

    r12: the dangling mass rides along as a LAZY one-row aggregate
    (cross-joined into the update) instead of a per-iteration
    ``.first()`` — the driver action per iteration cost a full job
    each AND evicted the cache the next iteration needed, so every
    action recomputed back to the last checkpoint (~20 jobs for 10
    iterations; now one job per checkpoint — measured 22.5 s → see
    ``pagerank_s`` in BENCH_FULL). Intermediate persists unpersist
    only AFTER the next eager checkpoint materializes through them.

    r15 (guide §1.2/§5): the dangling-node SET is iteration-invariant,
    but the loop recomputed it per iteration as an anti-join against
    an UNPERSISTED ``out_w`` — every checkpoint materialization
    re-evaluated the out-weight aggregate (and the whole upstream edge
    lineage under it) once per iteration in the chain. ``out_w`` is
    now persisted and the dangling set hoisted out of the loop; each
    iteration's dangling mass is a semi-join of the rank vector
    against that persisted set (statistics-driven broadcast — the set
    scales with the graph on real crawls, so no forced hint) — same
    summands, same arithmetic
    (measured on the 5-edge pytest graph: 103 → 94 jobs, ~15 → ~10 s
    warm, ranks bit-identical)."""
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("__src"),
        F.col(dst_col).alias("__dst"),
        w.alias("__w"),
    ).where(F.col("__src").isNotNull() & F.col("__dst").isNotNull())
    nodes = (
        e.select(F.col("__src").alias("domain"))
        .unionByName(e.select(F.col("__dst").alias("domain")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # per-source transition probability w / out_weight(src); persisted
    # because the hoisted dangling set ALSO derives from it (r15)
    out_w = e.groupBy("__src").agg(F.sum("__w").alias("__out")).persist()
    trans = e.join(out_w, "__src").select(
        "__src", "__dst", (F.col("__w") / F.col("__out")).alias("__p")
    ).persist()
    # iteration-invariant dangling-node set (domains with no outlinks)
    dang_nodes = nodes.join(
        out_w, nodes.domain == out_w.__src, "left_anti"
    ).persist()
    d = float(damping)
    base = (1.0 - d) / n_nodes
    # rank vectors persist LAZILY; each iteration references ranks
    # twice (dangling aggregate + contribution join), and the cache
    # dedupes those two uses when the next eager checkpoint finally
    # materializes the chain in ONE job. Unpersist is deferred until
    # after that checkpoint — dropping a cache before anything has
    # materialized through it would force a full lineage recompute
    # (the r11 shape's hidden cost).
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes)).persist()
    pending = [ranks]
    # storage-mode leaf GC: each cut fully replaces the previous state,
    # so the chain deletes the superseded leaf as soon as the next one
    # materializes — a 20-iteration run holds ONE live state copy, not
    # 20 (r14, review r13 item 2)
    from lantern_spark.plans.lineage import CutChain

    _chain = CutChain(keep=1)
    for i in range(int(iterations)):
        # dangling mass: total rank held by domains with no outlinks,
        # as a lazy 1-row aggregate cross-joined into the update — a
        # semi-join against the hoisted invariant set (r15). No forced
        # broadcast: on a real crawl MOST leaf domains are dangling, so
        # the set scales with the graph; the persisted relation's
        # statistics let the planner broadcast it when it is small.
        dangling_df = (
            ranks.join(
                dang_nodes.select("domain"),
                "domain",
                "left_semi",
            )
            .agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling")
            )
        )
        contrib = (
            trans.join(
                ranks.withColumnRenamed("domain", "__src"), "__src"
            )
            .groupBy("__dst")
            .agg(F.sum(F.col("__p") * F.col("rank")).alias("__in"))
        )
        new_ranks = (
            nodes.join(
                contrib.withColumnRenamed("__dst", "domain"),
                "domain",
                "left",
            )
            .crossJoin(F.broadcast(dangling_df))
            .select(
                "domain",
                (
                    F.lit(base)
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("__in"), F.lit(0.0))
                        + F.col("__dangling") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
            )
        )
        last = i + 1 == int(iterations)
        if last or (
            checkpoint_every and (i + 1) % int(checkpoint_every) == 0
        ):
            from lantern_spark.plans.lineage import cut_lineage

            new_ranks = cut_lineage(new_ranks, eager=True, chain=_chain)
            for df_ in pending:
                df_.unpersist()
            pending = []
        else:
            new_ranks = new_ranks.persist()
            pending.append(new_ranks)
        ranks = new_ranks
    nodes.unpersist()
    trans.unpersist()
    out_w.unpersist()
    dang_nodes.unpersist()
    return ranks


def _hll_init(col, log2m: int) -> Column:
    """Singleton HLL sketch of one value as ``array<int>`` of
    ``m = 2^log2m`` registers: register ``j = hash & (m-1)`` holds
    ``rho = (trailing zeros of the remaining hash bits) + 1``, the
    rest 0. Trailing-zero rho is the same geometric distribution as
    the classic leading-zero form (P(rho ≥ k) = 2^-(k-1)) and costs
    three integer ops instead of a log2 round-trip through doubles."""
    m = 1 << log2m
    h = F.xxhash64(_c(col))
    j = h.bitwiseAND(F.lit(m - 1)).cast("int")
    w = F.shiftrightunsigned(h, log2m)
    tz = F.bit_count(w.bitwiseAND(F.lit(0) - w) - 1)
    rho = F.when(w == 0, F.lit(64 - log2m + 1)).otherwise(tz + 1)
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.when(i == j, rho).otherwise(F.lit(0)),
    )


def _hll_merge_fold(list_col, log2m: int) -> Column:
    """Element-wise max fold over a collected list of sketches — the
    HLL union. One aggregate + zip_with, JVM-side."""
    m = 1 << log2m
    zero = F.array_repeat(F.lit(0), m)
    return F.aggregate(
        list_col,
        zero,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.greatest(a, b)),
    )


def _hll_estimate(regs, log2m: int) -> Column:
    """Standard HLL cardinality estimator with the linear-counting
    small-range correction (the regime every per-domain ball at low
    hops lives in — near-exact when the ball is ≪ m)."""
    m = 1 << log2m
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(
        log2m, 0.7213 / (1 + 1.079 / m)
    )
    isum = F.aggregate(
        regs,
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double")),
    )
    v = F.size(F.filter(regs, lambda r: r == 0))
    raw = F.lit(alpha * m * m) / isum
    return F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)


def domain_harmonic_centrality(
    edges: DataFrame,
    max_hops: int = 8,
    log2m: int = 8,
    src_col: str = "src_domain",
    dst_col: str = "dst_domain",
    min_links: int = 1,
    salt: int = 16,
    checkpoint_every: int = 2,
) -> DataFrame:
    """HARMONIC centrality over a domain edge list — the quality prior
    Common Crawl actually publishes for hosts (their host ranks are
    harmonic centrality on exactly the :func:`domain_link_graph`
    relation; PageRank is the damped cousin). For node v,
    ``H(v) = Σ_{u≠v} 1/d(u,v)`` over nodes u that REACH v — computed
    to ``max_hops`` by the HyperBall algorithm (Boldi & Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall", 2013):
    every node carries an HLL sketch of its in-ball; each hop merges
    every in-neighbor's sketch into the node's own (register-wise
    max = HLL union), and the per-hop cardinality DELTA contributes
    ``(|B(v,r)| − |B(v,r−1)|)/r``. Returns
    ``(domain, harmonic, sum_distances, reachable_estimate)`` — the
    same pass also accumulates ``Σ r·Δ_r`` (the sum of in-distances),
    from which the OTHER HyperBall centralities derive for free:
    closeness = (reachable_estimate − 1) / sum_distances, Lin's index
    = reachable_estimate² / sum_distances (Boldi & Vigna 2013 §3 —
    one sketch pass serves the whole family).

    Exactness: estimates are HLL-approximate with relative error
    ~1.04/√m (m = 2^log2m registers; log2m=8 → ~6.5%, log2m=12 →
    ~1.6%); small balls sit in the linear-counting regime and come
    out near-exact. Per-hop deltas clamp at 0 (the raw estimator is
    monotone under register growth; only the small-range/raw
    crossover can wobble a hair). Deterministic: xxhash64, no
    sampling — same input, same estimate. Accuracy vs an exact BFS
    oracle is pinned in tests/test_weburl.py (pytest-oracle by the
    same contract as :func:`domain_pagerank`: the output is an
    iterated float estimate — a SQL replay would have to re-implement
    the HLL register fold in a recursive CTE, which checks nothing
    the pytest oracle doesn't already check better, against EXACT
    BFS).

    Scale shape: the exact alternative materializes (node, reacher)
    PAIRS — O(Σ|ball|), quadratic on a crawl graph and the reason
    HyperBall exists. Here state is |domains| × (4·2^log2m) bytes
    (log2m=8: 1 KB/domain — a 100M-domain crawl carries ~100 GB of
    sketches across the cluster), and each hop is ONE shuffle join of
    state onto the edge key plus a TWO-LEVEL register-max merge: a
    salted partial groupBy bounds the per-group collect_list to
    ~indegree/salt sketches before the final per-domain merge, so a
    hub domain with millions of in-links cannot concentrate its whole
    in-neighborhood list in one aggregation buffer (size ``salt`` to
    max-indegree/memory; the merge itself is associative). Lineage is
    cut through :func:`~lantern_spark.plans.lineage.cut_lineage`
    every ``checkpoint_every`` hops, same cadence contract as
    :func:`domain_pagerank`."""
    from lantern_spark.plans.lineage import CutChain, cut_lineage

    # storage-mode leaf GC: state is fully replaced per hop (r14)
    _chain = CutChain(keep=1)
    m = 1 << log2m
    e = edges
    if min_links > 1 and "n_links" in edges.columns:
        e = e.where(F.col("n_links") >= int(min_links))
    e = (
        e.select(
            F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
        )
        .where(F.col("__src").isNotNull() & F.col("__dst").isNotNull())
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("__src").alias("domain"))
        .unionByName(e.select(F.col("__dst").alias("domain")))
        .distinct()
    )
    state = cut_lineage(
        nodes.select(
            "domain",
            _hll_init("domain", log2m).alias("regs"),
        ).withColumn("est", _hll_estimate(F.col("regs"), log2m))
        .withColumn("harmonic", F.lit(0.0))
        .withColumn("sumd", F.lit(0.0)),
        chain=_chain,
    )
    zero = F.array_repeat(F.lit(0), m)
    for r in range(1, int(max_hops) + 1):
        # in-neighbor sketches flow ALONG the edge (u→v ⇒ u reaches v
        # in one hop): join state onto src, merge per dst
        contrib = e.join(
            state.select(
                F.col("domain").alias("__src"),
                F.col("regs").alias("__nregs"),
            ),
            "__src",
        )
        partial = (
            contrib.groupBy(
                "__dst",
                F.pmod(F.xxhash64("__src"), F.lit(int(salt))).alias("__salt"),
            )
            .agg(F.collect_list("__nregs").alias("__ls"))
            .select(
                "__dst",
                _hll_merge_fold(F.col("__ls"), log2m).alias("__pregs"),
            )
        )
        merged = (
            partial.groupBy("__dst")
            .agg(F.collect_list("__pregs").alias("__ls"))
            .select(
                F.col("__dst").alias("domain"),
                _hll_merge_fold(F.col("__ls"), log2m).alias("__mregs"),
            )
        )
        new_regs = F.zip_with(
            F.col("regs"),
            F.coalesce(F.col("__mregs"), zero),
            lambda a, b: F.greatest(a, b),
        )
        delta = F.greatest(F.lit(0.0), F.col("__est2") - F.col("est"))
        stepped = (
            state.join(merged, "domain", "left")
            .withColumn("__regs2", new_regs)
            .withColumn("__est2", _hll_estimate(F.col("__regs2"), log2m))
            .select(
                "domain",
                F.col("__regs2").alias("regs"),
                F.col("__est2").alias("est"),
                (F.col("harmonic") + delta / F.lit(float(r))).alias(
                    "harmonic"
                ),
                (F.col("sumd") + delta * F.lit(float(r))).alias("sumd"),
            )
        )
        if r == int(max_hops) or (
            checkpoint_every and r % int(checkpoint_every) == 0
        ):
            stepped = cut_lineage(stepped, eager=True, chain=_chain)
        state = stepped
    e.unpersist()
    return state.select(
        "domain",
        F.col("harmonic"),
        F.col("sumd").alias("sum_distances"),
        F.col("est").alias("reachable_estimate"),
    )


#: Ceiling for the auto-sized prior broadcast: above this estimated
#: in-memory hash-relation size the join falls back to a shuffle.
#: 256 MB keeps the broadcast well under typical executor overheads
#: (each executor holds a full copy, and the driver builds it first).
JOIN_PRIOR_BROADCAST_CEILING = 256 * 1024 * 1024


def join_domain_prior(
    df: DataFrame,
    url_col: str,
    prior: DataFrame,
    domain_col: str = "domain",
    score_cols: Optional[Sequence[str]] = None,
    psl=None,
    fill: Optional[float] = None,
    broadcast="auto",
    broadcast_ceiling_bytes: int = JOIN_PRIOR_BROADCAST_CEILING,
) -> DataFrame:
    """Attach link-graph quality priors to DOCUMENTS — the step the
    graph layer exists to feed (curation pipelines upweight
    high-centrality domains and drop orphaned spam clusters): key each
    row's URL to its registered domain with the SAME eTLD+1 rules the
    graph was built with, and join the per-domain scores on
    (:func:`domain_pagerank`'s ``rank``,
    :func:`domain_harmonic_centrality`'s ``harmonic``/…, or any
    ``(domain, score…)`` relation).

    Scale shape: the prior is |domains|-sized and SMALL for most
    graphs, so it broadcasts and the corpus never shuffles
    (plan-pinned) — but "small" is not guaranteed (r14, review r13
    item 3): a full-crawl prior is ~90M registered domains, and at
    ~25 B of domain text + 8 B per double score + ~40 B of JVM
    hash-relation overhead per row that is **3–5 GB** of broadcast
    hash relation copied to the driver and EVERY executor — a forced
    broadcast there is an OOM, not an optimization. ``broadcast``
    gates it:

    - ``"auto"`` (default): one bounded aggregate over the prior
      (count + avg domain length) estimates the hash-relation size;
      the prior broadcasts only under ``broadcast_ceiling_bytes``
      (default 256 MB ≈ up to ~5M domains with a couple of scores),
      else the join is left plain — AQE/Catalyst pick the shuffle
      strategy, and a pre-bucketed prior avoids even that. The
      estimate costs one small action; priors that are loop outputs
      (``domain_pagerank``) end lineage-cut, so the action is a cheap
      scan, not a re-iteration.
    - ``True`` / ``False``: force / forbid the broadcast hint and skip
      the estimate entirely.

    Key with the SAME ``psl`` the graph was built with (mismatched
    keying silently drops every host under a non-curated registry;
    run :func:`psl_coverage_report` to size that risk). Rows with no
    prior (domain absent from the graph) keep NULL scores, or
    ``fill`` when given — dropping them is a curation decision, not a
    join default."""
    score_cols = list(
        score_cols
        if score_cols is not None
        else [c for c in prior.columns if c != domain_col]
    )
    p = prior.select(
        F.col(domain_col).alias("__prior_domain"), *score_cols
    )
    keyed = df.withColumn(
        "__prior_domain", registered_domain(url_col, psl=psl)
    )
    if broadcast == "auto":
        est = p.agg(
            F.count("*").alias("n"),
            F.avg(F.length("__prior_domain")).alias("w"),
        ).first()
        n_rows = int(est["n"] or 0)
        # per-row: domain text (2 B/char in the JVM) + 8 B per score +
        # ~40 B of row/hash-table overhead
        row_bytes = 2 * float(est["w"] or 0.0) + 8 * len(score_cols) + 40
        do_broadcast = n_rows * row_bytes <= broadcast_ceiling_bytes
    else:
        do_broadcast = bool(broadcast)
    right = F.broadcast(p) if do_broadcast else p
    out = keyed.join(right, "__prior_domain", "left").drop(
        "__prior_domain"
    )
    if fill is not None:
        for c in score_cols:
            out = out.withColumn(
                c, F.coalesce(F.col(c), F.lit(float(fill)))
            )
    return out


def expand_seed_domains(
    edges: DataFrame,
    seeds: Sequence[str],
    hops: int = 1,
    min_links: int = 1,
    direction: str = "out",
) -> DataFrame:
    """Seed-expansion curation (the WebText recipe inverted for
    crawls: start from trusted domains, admit what the trust
    neighborhood links to): BFS over the
    :func:`domain_link_graph` edge list from ``seeds``, ``hops``
    levels deep → ``(domain, hop)`` with the MINIMUM hop distance at
    which each domain was reached (seeds are hop 0).

    ``direction``: ``"out"`` follows links FROM the frontier (what
    trusted sites link to — the usual quality expansion), ``"in"``
    follows links TO it (what links to trusted sites — useful for
    spam-ring discovery around a bad seed set), ``"both"`` unions.
    ``min_links`` ignores edges thinner than the floor (single stray
    links are weak endorsements).

    Scale: one frontier join against the edge list per hop — ``hops``
    is 1-3 in practice, so this is a bounded sequence of semi-joins,
    not an iterate-to-fixpoint. The frontier join is left to AQE: a
    seed-sized frontier broadcasts itself; a dense hop-2 frontier
    (which can reach millions of domains) shuffles instead of forcing
    an OOM-sized driver broadcast."""
    if direction not in ("out", "in", "both"):
        raise ValueError(f"direction must be out/in/both, got {direction!r}")
    spark = edges.sparkSession
    e = edges.where(F.col("n_links") >= int(min_links))
    fwd = e.select(
        F.col("src_domain").alias("__from"), F.col("dst_domain").alias("__to")
    )
    rev = e.select(
        F.col("dst_domain").alias("__from"), F.col("src_domain").alias("__to")
    )
    if direction == "out":
        step = fwd
    elif direction == "in":
        step = rev
    else:
        step = fwd.unionByName(rev)
    # Cut the deduped step relation's lineage instead of persist()ing
    # it (r14 optimization, guide §2): every hop joins against it, and
    # the cut RDD is shared by identity so the edge-list distinct runs
    # once. A ``persist()`` here compiled the cached plan WITHOUT
    # AQE's partition coalescing (32 near-empty cached partitions at
    # bench scale → a 32-task stage per hop scan), and was dropped by
    # ``unpersist()`` before the result was ever consumed; the
    # checkpoint keeps AQE's size-derived partitioning and lives as
    # long as the result's RDD. Honors checkpoint_mode like the hop
    # cuts.
    from lantern_spark.plans.lineage import cut_lineage
    from lantern_spark.types import local_df

    step = cut_lineage(step.distinct(), eager=False, scheduling_only=True)
    reached = local_df(
        spark, [(s.lower(), 0) for s in seeds], "domain string, hop int"
    )
    frontier = reached.select("domain")
    for h in range(1, int(hops) + 1):
        nxt = (
            step.join(
                frontier.withColumnRenamed("domain", "__from"),
                "__from",
            )
            .select(F.col("__to").alias("domain"))
            .distinct()
            .join(reached.select("domain"), "domain", "left_anti")
            .withColumn("hop", F.lit(h))
        )
        # Cut the hop so the next frontier does not re-derive (and
        # re-shuffle) the whole prefix chain. LAZY (r14, guide §1.2/
        # §2.4): the loop body runs no action, so an eager cut per hop
        # was one dedicated materialization JOB per hop; a lazy cut
        # materializes inside the first consumer's job and is shared
        # by RDD identity from then on — same sharing, ``hops`` fewer
        # jobs. (storage mode still writes its leaf per cut — eager by
        # construction — and results are mode-invariant as before.)
        # scheduling_only (r15): hop sharing is per-call query
        # scheduling, not loop state needing durability; hops are 1-3
        # so the un-cut plan stays bounded in durable modes.
        nxt = cut_lineage(nxt, eager=False, scheduling_only=True)
        reached = reached.unionByName(nxt)
        frontier = nxt.select("domain")
    return reached


def _is_public_suffix(host: str, psl: dict) -> bool:
    """Driver-side replay of the PSL rule chain for ONE host: True iff
    the host IS a public suffix (its registered domain would need one
    more label). Exceptions override (``!city.nagoya.jp`` is
    registrable); a wildcard base's direct children are suffixes; the
    base itself and exact rules are suffixes."""
    labels = host.split(".")
    n = len(labels)
    if n <= 1:
        return True
    for k, rules in psl.get("exception", {}).items():
        if n == k and host in rules:
            return False
    for k, bases in psl.get("wildcard", {}).items():
        if n == k + 1 and ".".join(labels[1:]) in bases:
            return True
        if n == k and host in bases:
            return True  # inside the wildcard suffix itself
    for k, rules in psl.get("exact", {}).items():
        if n == k and host in rules:
            return True
    return False
