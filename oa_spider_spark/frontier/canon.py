"""URL canonicalization + hashing as pure Column expressions.

The seen-set key is ``xxhash64(url_canon)`` (FIXTURES.md §2-3); the whole
canonicalization must therefore be deterministic and identical everywhere
it is computed. Rules (superset of what the reference's sites need —
the reference never canonicalizes because its server does dedup, §1.3):

  * strip the fragment
  * lowercase scheme and host
  * drop default ports (:80 http, :443 https)
  * sort query parameters bytewise (stable dedup of reordered queries)
  * drop a trailing '?' left by an empty query

All built-in functions — the expression stays inside WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def host_of(url: Column | str) -> Column:
    """lowercased host[:port] — the politeness partition key."""
    c = F.col(url) if isinstance(url, str) else url
    no_frag = F.substring_index(c, "#", 1)
    rest = F.substring_index(no_frag, "://", -1)
    return F.lower(F.substring_index(F.substring_index(rest, "/", 1), "?", 1))


def canonicalize_url(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    no_frag = F.substring_index(c, "#", 1)
    scheme = F.lower(F.substring_index(no_frag, "://", 1))
    rest = F.substring_index(no_frag, "://", -1)
    hostport = F.lower(F.substring_index(F.substring_index(rest, "/", 1), "?", 1))
    host = F.when(scheme == "http", F.regexp_replace(hostport, ":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(hostport, ":443$", "")).otherwise(hostport)
    )
    # path+query = rest minus the leading host[:port]
    pathq = F.substring(
        rest,
        F.length(F.substring_index(F.substring_index(rest, "/", 1), "?", 1)) + 1,
        F.lit(2**30),
    )
    path = F.substring_index(pathq, "?", 1)
    has_q = F.instr(pathq, "?") > 0
    query = F.substring_index(pathq, "?", -1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(has_q & (sorted_q != ""), F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
    )


def url_hash(url_canon: Column | str) -> Column:
    """Seen-set key: 64-bit xxhash of the canonical URL (FIXTURES.md §3).

    The reference's analog is server-side read-marking keyed by doc id
    (`oa.py:384,507-510`); at 10^10-URL scale the key must be a fixed-width
    integer so the Bloom filter and the seen table stay compact.
    """
    c = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    return F.xxhash64(c)


def with_url_columns(df, url_col: str = "url"):
    """Attach url_canon / url_hash / host derived columns."""
    canon = canonicalize_url(url_col)
    return (
        df.withColumn("url_canon", canon)
        .withColumn("url_hash", url_hash(F.col("url_canon")))
        .withColumn("host", host_of(url_col))
    )


# --- X86: registrable domain (eTLD+1) ----------------------------------------

# Vendored SUBSET of publicsuffix.org semantics (the list itself is public
# knowledge; a production deployment broadcasts the full ~10k-rule list the
# same way — it is a few hundred KB, well under any broadcast threshold).
# Longest-suffix-match wins, exactly like the PSL algorithm; wildcard and
# exception rules are out of scope for the subset.
PSL_SUBSET = (
    "com", "org", "net", "io", "dev",
    "co.uk", "org.uk", "ac.uk",
    "com.cn", "org.cn", "net.cn",
    "github.io", "gitlab.io",
)


def registrable_domain(host: Column | str, suffixes: DataFrame) -> "callable":
    """Return a function df -> df adding `domain` = eTLD+1 of `host`.

    Two-level politeness needs the REGISTRABLE domain, not the host:
    per-host budgets alone are defeated by subdomain spam (a spam farm
    mints s1..s10000.spam.example and gets 10000x one host's budget).

    Longest-suffix match without exploding the frontier: the host's last
    1/2/3 labels are joined against the broadcast suffix table THREE
    times (left joins, JVM-side, no shuffle of the big table — the same
    shape as the hosts politeness join J3), and the deepest hit wins.
    eTLD+1 = one label + the matched suffix; a host that IS a public
    suffix, or has no dot at all, maps to itself. PSL wildcard/exception
    rules would add one more candidate width, not a different plan.
    """
    hc = F.col(host) if isinstance(host, str) else host

    def apply(df: DataFrame) -> DataFrame:
        labels = F.split(hc, r"\.")
        n = F.size(labels)
        c1 = F.element_at(labels, -1)
        c2 = F.when(n >= 2, F.concat_ws(".", F.slice(labels, -2, 2)))
        c3 = F.when(n >= 3, F.concat_ws(".", F.slice(labels, -3, 3)))
        out = (
            df.withColumn("_lab", labels)
            .withColumn("_n", n)
            .withColumn("_c1", c1)
            .withColumn("_c2", c2)
            .withColumn("_c3", c3)
        )
        for k in (1, 2, 3):
            sfx = F.broadcast(
                suffixes.select(F.col("sfx").alias(f"_m{k}"))
            )
            out = out.join(sfx, out[f"_c{k}"] == sfx[f"_m{k}"], "left")
        depth = (
            F.when(F.col("_m3").isNotNull(), 3)
            .when(F.col("_m2").isNotNull(), 2)
            .when(F.col("_m1").isNotNull(), 1)
            .otherwise(0)
        )
        matched = F.coalesce(F.col("_m3"), F.col("_m2"), F.col("_m1"))
        domain = (
            F.when(depth == 0, hc)
            .when(F.col("_n") <= depth, hc)
            .otherwise(
                F.concat(
                    F.element_at(F.col("_lab"), -(F.lit(1)) - depth),
                    F.lit("."),
                    matched,
                )
            )
        )
        return out.withColumn("domain", domain).drop(
            "_lab", "_n", "_c1", "_c2", "_c3", "_m1", "_m2", "_m3"
        )

    return apply


def infer_spurious_params(
    pages,
    url_col: str = "url",
    fp_col: str = "fp",
    min_groups: int = 3,
    min_spurious_milli: int = 900,
):
    """Data-driven canonicalization-rule mining: which query parameters
    do NOT affect content? `canonicalize_url` applies STATIC rules
    (fragment, port, query order); session ids, tracking tags, and
    cache-busters are site-specific and can only be LEARNED — from the
    crawl's own evidence. For every (host, param), this groups fetched
    URLs that are identical except for that param's value (the
    "residual" = stem + every other parameter) and checks whether the
    content fingerprint stayed invariant while the value changed:

        (host, param, groups_tested, groups_invariant,
         spurious_milli,   # 1000·invariant div tested
         spurious)         # tested ≥ min_groups and milli ≥ threshold

    A `spurious=true` row feeds back into the canonicalizer (strip the
    param on that host), collapsing the URL space — on session-id sites
    this is the difference between a 10⁶-page crawl and an unbounded
    one. Verdicts are conservative by construction: a group is only
    `tested` when ≥ 2 distinct values were actually observed, and one
    content change vetoes invariance.

    Scale shape: pure column parsing (split/explode — no Python), then
    two keyed aggregations: (host, param, residual) with two distinct
    counts, then (host, param). The residual key is high-cardinality
    (URL-space-sized), the output host×param-sized. No windows, no
    broadcast of anything data-sized.
    """
    from pyspark.sql import DataFrame  # noqa: F401

    d = pages.select(F.col(url_col).alias("_url"), F.col(fp_col).alias("_fp")).distinct()
    stem = F.substring_index("_url", "?", 1)
    query = F.when(
        F.instr("_url", "?") > 0, F.substring_index("_url", "?", -1)
    ).otherwise(F.lit(""))
    kvs = F.filter(F.split(query, "&"), lambda kv: kv != "")
    ex = d.select(
        "_url", "_fp", stem.alias("_stem"), F.explode(kvs).alias("_kv"), kvs.alias("_all")
    )
    pname = F.substring_index("_kv", "=", 1)
    others = F.array_join(
        F.array_sort(
            F.filter(
                "_all",
                lambda kv: F.substring_index(kv, "=", 1) != F.substring_index(F.col("_kv"), "=", 1),
            )
        ),
        "&",
    )
    rows = ex.select(
        host_of("_url").alias("host"),
        pname.alias("param"),
        F.concat("_stem", F.lit("|"), others).alias("residual"),
        F.substring_index("_kv", "=", -1).alias("value"),
        "_fp",
    )
    grp = rows.groupBy("host", "param", "residual").agg(
        F.countDistinct("value").alias("n_vals"),
        F.countDistinct("_fp").alias("n_fps"),
    )
    tested = grp.filter(F.col("n_vals") >= 2)
    agg = tested.groupBy("host", "param").agg(
        F.count(F.lit(1)).alias("groups_tested"),
        F.sum((F.col("n_fps") == 1).cast("long")).alias("groups_invariant"),
    )
    milli = F.expr("groups_invariant * 1000 div groups_tested")
    return agg.select(
        "host",
        "param",
        "groups_tested",
        "groups_invariant",
        milli.cast("long").alias("spurious_milli"),
        (
            (F.col("groups_tested") >= min_groups)
            & (milli >= min_spurious_milli)
        ).alias("spurious"),
    )


def bitext_url_pairs(
    pages,
    langs: list[str],
    pivot: str = "en",
    min_len_ratio_milli: int = 600,
    url_col: str = "url",
    len_col: str = "content_len",
):
    """Parallel-corpus candidate mining from URL structure — the
    CCAligned/ParaCrawl first stage (El-Kishky et al. 2020 §3.1): two
    URLs on the same host whose paths differ ONLY in a leading language
    segment (/en/a/b vs /fr/a/b) are bitext candidates, pre-filtered by
    the classic length-ratio rule (translations have similar lengths;
    ratio in exact integer milli-units, floor-div on named columns).

    Scale shape: host/path/segment extraction is row-local regex (stays
    in WholeStageCodegen); the pair build is ONE equi-join keyed on the
    lang-stripped URL key — pivot side vs non-pivot side — so the
    shuffle moves (key, url, len) triples once, no self-cross within
    host, no window. Callers supply canonical URLs (one per key+lang;
    X79's canonicalizer upstream is the contract — duplicate members
    would fan out the key join, the same discipline as J2's seen keys).
    """
    u = F.col(url_col)
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)
    path = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/]+(/.*)$", 1)
    seg1 = F.regexp_extract(path, r"^/([^/]+)", 1)
    lang_arr = F.array(*[F.lit(x) for x in langs])
    base = (
        pages.select(
            u.alias("_url"),
            F.col(len_col).alias("_len"),
            host.alias("_host"),
            path.alias("_path"),
            seg1.alias("_seg"),
        )
        .filter(F.array_contains(lang_arr, F.col("_seg")))
        .select(
            "_url",
            "_len",
            F.col("_seg").alias("_lang"),
            F.concat(
                F.col("_host"), F.expr("substring(_path, length(_seg) + 2)")
            ).alias("_key"),
        )
    )
    a = base.filter(F.col("_lang") == pivot).select(
        F.col("_key"), F.col("_url").alias("url_a"), F.col("_len").alias("_la")
    )
    b = base.filter(F.col("_lang") != pivot).select(
        F.col("_key"),
        F.col("_url").alias("url_b"),
        F.col("_lang").alias("lang_b"),
        F.col("_len").alias("_lb"),
    )
    return (
        a.join(b, "_key")
        .withColumn(
            "ratio_milli",
            F.expr("(1000 * least(_la, _lb)) div greatest(_la, _lb)"),
        )
        .filter(F.col("ratio_milli") >= min_len_ratio_milli)
        .select("url_a", "url_b", "lang_b", "ratio_milli")
    )


def scheme_merge(pages: DataFrame) -> DataFrame:
    """HTTP→HTTPS duplicate-origin merge: the same (host, path) served
    under both schemes is ONE logical page when the content fingerprint
    agrees — the canonicalizer should collapse it (and the frontier
    should stop budgeting it twice), but only the fingerprint, not the
    scheme, can prove that. Pages: (host, path, scheme, content_fp).

    Output per (host, path): which schemes exist, the canonical scheme
    (https when present — the upgrade direction), whether both schemes
    exist AND agree on content (mergeable=true ⇒ emit the redirect
    rule; both-but-different ⇒ a cloaking/KEEP-BOTH case the merge must
    NOT touch). One (host, path)-keyed groupBy with conditional
    max-aggregation — no self-join, no window."""
    return (
        pages.groupBy("host", "path")
        .agg(
            F.max(F.when(F.col("scheme") == "https", F.col("content_fp"))).alias(
                "_fps"
            ),
            F.max(F.when(F.col("scheme") == "http", F.col("content_fp"))).alias(
                "_fph"
            ),
        )
        .select(
            "host",
            "path",
            (F.col("_fph").isNotNull().cast("int")
             + F.col("_fps").isNotNull().cast("int")).alias("n_schemes"),
            F.when(F.col("_fps").isNotNull(), "https")
            .otherwise("http")
            .alias("canonical_scheme"),
            (
                F.col("_fps").isNotNull()
                & F.col("_fph").isNotNull()
                & (F.col("_fps") == F.col("_fph"))
            ).alias("mergeable"),
        )
    )


def rel_canonical_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Extract <link rel=canonical> targets as (src, dst) edges — the
    duplicate-collapse signal sites publish themselves (quoted or bare
    attribute forms both parse; pages without the element, or pointing
    at themselves, contribute no edge). One row-local regexp_extract;
    feeds resolve_pointer_chains exactly like redirect edges do."""
    href = F.nullif(
        F.regexp_extract(
            F.col(html_col),
            "(?i)<link[^>]*rel=[\"']?canonical[\"']?[^>]*href=[\"']?([^\"' >]+)",
            1,
        ),
        F.lit(""),
    )
    return (
        pages.select(F.col(url_col).alias("src"), href.alias("dst"))
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )


def canonical_resolution(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    max_hops: int = 8,
) -> DataFrame:
    """rel=canonical cluster collapse: harvest the per-page canonical
    edges and resolve multi-hop chains (a→b→c declarations are common
    when sites migrate twice) with X85's pointer doubling —
    ceil(log2(hops)) key-joins, cycles reported unresolved. Output
    (node, final_node, hops, resolved) for every url touching a
    canonical declaration; the frontier keys its seen-set on
    final_node to stop re-budgeting declared duplicates."""
    from ..operators.graph import resolve_pointer_chains

    return resolve_pointer_chains(
        rel_canonical_edges(pages, url_col, html_col), max_hops=max_hops
    )


def hreflang_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Extract <link rel=alternate hreflang=..> declarations as
    (src, hreflang, dst) edges — a page may declare MANY alternates, so
    tags are regexp_extract_all'd whole and each tag re-parsed for its
    hreflang and href (quoted or bare attribute forms). Self-referencing
    declarations (recommended by the spec) carry no graph information
    and are dropped."""
    tag = F.explode(
        F.regexp_extract_all(
            F.col(html_col),
            F.lit("(?i)<link[^>]*rel=[\"']?alternate[\"']?[^>]*>"),
            F.lit(0),
        )
    ).alias("_tag")
    base = pages.select(F.col(url_col).alias("src"), tag)
    lang = F.regexp_extract(F.col("_tag"), "(?i)hreflang=[\"']?([A-Za-z-]+)", 1)
    href = F.regexp_extract(F.col("_tag"), "(?i)href=[\"']?([^\"' >]+)", 1)
    return (
        base.select("src", lang.alias("hreflang"), href.alias("dst"))
        .filter((F.col("hreflang") != "") & (F.col("dst") != ""))
        .filter(F.col("dst") != F.col("src"))
    )


def hreflang_validation(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """hreflang reciprocity audit: per the i18n linking rules, an
    alternate declaration a→b only COUNTS when b declares a back —
    one-sided declarations are the classic misconfiguration that makes
    search engines ignore the whole cluster, and a multilingual corpus
    builder (X99 bitext) wants only confirmed clusters. One distinct
    pair self-join (reversed equi-join on (src, dst)) marks each
    declared edge reciprocal or not — no transitive machinery needed;
    full-cluster collapse hands off to X117's pointer doubling."""
    e = hreflang_edges(pages, url_col, html_col)
    pairs = e.select("src", "dst").distinct()
    rev = pairs.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).withColumn("_r", F.lit(1))
    return (
        e.join(rev, ["src", "dst"], "left")
        .select(
            "src",
            "hreflang",
            "dst",
            F.col("_r").isNotNull().alias("reciprocal"),
        )
    )


def rel_next_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Extract <link rel=next> pagination declarations as (src, dst)
    edges (quoted or bare forms) — self-loops dropped like the
    canonical extractor's."""
    href = F.nullif(
        F.regexp_extract(
            F.col(html_col),
            "(?i)<link[^>]*rel=[\"']?next[\"']?[^>]*href=[\"']?([^\"' >]+)",
            1,
        ),
        F.lit(""),
    )
    return (
        pages.select(F.col(url_col).alias("src"), href.alias("dst"))
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )


def pagination_series(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    max_hops: int = 8,
) -> DataFrame:
    """Multi-page article assembly from rel=next chains: every page
    resolves to its series HEAD with its position in the sequence —
    the stitching step that lets the corpus treat a 6-page article as
    ONE document (and the dedup family stop flagging its shared
    boilerplate). Mechanically: reverse the next-edges and run X85's
    pointer doubling — the head is the reversed graph's terminal, the
    position is the hop count, and over-long or cyclic declarations
    report unresolved exactly as redirects do. Output: (url, series_id
    = head url, position, resolved)."""
    from ..operators.graph import resolve_pointer_chains

    e = rel_next_edges(pages, url_col, html_col)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    r = resolve_pointer_chains(rev, max_hops=max_hops)
    return r.select(
        F.col("node").alias("url"),
        F.col("final_node").alias("series_id"),
        F.col("hops").alias("position"),
        "resolved",
    )


def path_section_rollup(
    pages: DataFrame,
    path_col: str = "path",
    max_depth: int = 6,
) -> DataFrame:
    """Site-section treemap input: every directory prefix of every
    page path with its SUBTREE page count and its DIRECT page count —
    "which sections of this site are biggest" is the first question a
    crawl operator asks before budgeting sections differently (and the
    input X73's trap detector and X105's saturation rule refine).

    A page /a/b/c.html contributes one row to each ancestor prefix
    (/a, /a/b) — explode of a transform over the split path, bounded
    by max_depth so a pathological 10^4-segment URL cannot fan out
    (depth beyond the cap rolls into its max_depth ancestor, the safe
    direction for a section census). One prefix-keyed aggregate; no
    joins, no windows.

    Output: (prefix, depth, n_subtree, n_direct), where n_direct
    counts pages whose immediate directory IS the prefix."""
    parts = F.filter(
        F.split(F.col(path_col), "/"), lambda s: s != F.lit("")
    )
    ndirs = F.least(F.size(parts) - 1, F.lit(max_depth))
    # F.sequence(1, 0) is [1, 0], not empty: a root-level page (no
    # directory) must explode nothing, so guard instead of clamping
    prefixes = F.transform(
        F.sequence(F.lit(1), ndirs),
        lambda i: F.struct(
            F.concat(
                F.lit("/"), F.array_join(F.slice(parts, 1, i), "/")
            ).alias("prefix"),
            i.cast("long").alias("depth"),
        ),
    )
    rows = pages.select(
        ndirs.alias("_nd"), F.explode(F.when(ndirs >= 1, prefixes)).alias("_p")
    ).select(
        F.col("_p.prefix").alias("prefix"),
        F.col("_p.depth").alias("depth"),
        (F.col("_p.depth") == F.col("_nd")).alias("_direct"),
    )
    return rows.groupBy("prefix", "depth").agg(
        F.count("*").alias("n_subtree"),
        F.sum(F.col("_direct").cast("long")).alias("n_direct"),
    )


CONFUSABLE_FROM = "013457"
CONFUSABLE_TO = "oleast"


def homograph_skeletons(
    hosts: DataFrame,
    host_col: str = "host",
) -> DataFrame:
    """Lookalike-domain detection by confusable skeleton (the Unicode
    TR39 skeleton idea restricted to the digit-for-letter substitutions
    that survive DNS: 0→o 1→l 3→e 4→a 5→s 7→t): hosts that collapse
    onto the SAME skeleton as a different host are typosquat/phishing
    candidates the crawler should quarantine rather than treat as
    fresh discovery (complementing X93's content-level mirror
    detection with a zero-fetch, name-level screen — F9's confusables
    normalize CONTENT digits, this one normalizes NAMES).

    One row-local translate + one skeleton-keyed aggregate joined
    back on the same key (co-partitioned — the aggregate is host-
    cardinality, so it is NOT broadcast; AQE may still choose to at
    small scale); canonical member = lexicographically smallest
    variant (a real deployment ranks by traffic/age — same join,
    different order key). Output: (host, skeleton, n_variants,
    canonical_host, is_suspect) where is_suspect marks every
    non-canonical member of a colliding skeleton."""
    sk = F.translate(
        F.lower(F.col(host_col)), CONFUSABLE_FROM, CONFUSABLE_TO
    )
    base = hosts.select(F.col(host_col).alias("host")).distinct().withColumn(
        "skeleton", sk
    )
    groups = base.groupBy("skeleton").agg(
        F.count("*").alias("n_variants"),
        F.min("host").alias("canonical_host"),
    )
    return base.join(groups, "skeleton").select(
        "host",
        "skeleton",
        F.col("n_variants").cast("long").alias("n_variants"),
        "canonical_host",
        (
            (F.col("n_variants") > 1)
            & (F.col("host") != F.col("canonical_host"))
        ).alias("is_suspect"),
    )
