"""Crawl-operations queries (SURVEY §2.12 X72–X78): the frontier's
*steady-state* toolkit — adaptive recrawl scheduling, SCD1 merge-upsert
(the lakehouse write-back a recrawl produces), crawl-trap detection,
and mergeable histogram quantiles (the latency/size-percentile monitor
a 10^10-URL crawl runs per round without sorting anything).

Everything is integer column arithmetic end-to-end (no floats except
the repo's established lossless cents quantization), so all four carry
full DuckDB value oracles. Derivations are relational over the
driver-generated tables — same discipline as every other query module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col) -> F.Column:
    return F.round(col * 100, 0).cast("long")


# --- X72: adaptive recrawl schedule ----------------------------------------

N_URLS_MOD = 997  # visits per URL ≈ events / 997 (≈10 at sf0.01)


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven revisit policy (frontier/recrawl.py::
    recrawl_schedule): the event log plays a visit history — url_id =
    event_id mod 997, a visit 'changed' when the event ticks a
    url-dependent propensity (event_id%10 < url_id%11, spanning rates
    0..1000 so the interval clamp is exercised). Output: per-URL change
    rate (milli), clamped revisit interval (hours), next fetch time
    (epoch-µs)."""
    from .frontier.recrawl import recrawl_schedule

    e = _t(spark, sf_dir, "events")
    visits = e.select(
        (F.col("event_id") % N_URLS_MOD).alias("url_id"),
        "ts",
        (
            (F.col("event_id") % 10) < (F.col("event_id") % N_URLS_MOD) % 11
        ).cast("long").alias("changed"),
    )
    return recrawl_schedule(visits)


SQL_RECRAWL_SCHEDULE = f"""
WITH v AS (
  SELECT event_id % {N_URLS_MOD} AS url_id, epoch_us(ts) AS us,
         CASE WHEN (event_id % 10) < (event_id % {N_URLS_MOD}) % 11
              THEN 1 ELSE 0 END AS changed
  FROM events
), a AS (
  SELECT url_id, count(*) AS n_visits,
         CAST(sum(changed) AS BIGINT) AS n_changes,
         max(us) AS last_us
  FROM v GROUP BY url_id
), r AS (
  SELECT *, (1000 * n_changes) // n_visits AS change_rate_milli FROM a
), i AS (
  SELECT *, least(CAST(168 AS BIGINT), greatest(CAST(6 AS BIGINT),
             (24 * 1000) // greatest(change_rate_milli, 125))) AS interval_hours
  FROM r
)
SELECT url_id, n_visits, n_changes, change_rate_milli, interval_hours,
       last_us + interval_hours * 3600000000 AS next_fetch_us
FROM i
"""


# --- X73: SCD1 merge-upsert -------------------------------------------------

def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE semantics (operators/temporal.py::merge_upsert)
    over orders: base carries version = key%2; the delta (keys %3==0)
    re-prices +555 cents at version 1 except keys %5==0 which arrive
    stale at version 0. Exercises all four outcomes: delta newer,
    version tie (delta wins), delta stale (base wins), and
    pass-through keys."""
    from .operators.temporal import merge_upsert

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        _cents(F.col("o_totalprice")).alias("price_cents"),
        (F.col("o_orderkey") % 2).alias("version"),
    )
    delta = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (_cents(F.col("o_totalprice")) + 555).alias("price_cents"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("version"),
    )
    return merge_upsert(base, delta, ["o_orderkey"], "version")


SQL_MERGE_UPSERT = """
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         o_orderkey % 2 AS version, 0 AS src
  FROM orders
), delta AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) + 555 AS price_cents,
         CASE WHEN o_orderkey % 5 = 0 THEN 0 ELSE 1 END AS version, 1 AS src
  FROM orders WHERE o_orderkey % 3 = 0
), u AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY version DESC, src DESC) AS rk
  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
)
SELECT o_orderkey, price_cents, CAST(version AS BIGINT) AS version,
       src = 1 AS from_delta
FROM u WHERE rk = 1
"""


# --- X74: crawl-trap detection ----------------------------------------------

def q_crawl_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host URL-template amplification (frontier/recrawl.py::
    crawl_trap_stats): every 4th host serves a calendar-style exploding
    path (/cal/<event_id> — one template, hundreds of URLs), the rest a
    bounded 26-page site (/page/<letter> — as many templates as
    pages). The trap flag separates them at 8000 milli."""
    from .frontier.recrawl import crawl_trap_stats

    e = _t(spark, sf_dir, "events")
    hostnum = F.col("user_id") % 40
    urls = e.select(
        F.concat(
            F.lit("h"), F.lpad(hostnum.cast("string"), 3, "0"), F.lit(".example.org")
        ).alias("host"),
        F.when(
            hostnum % 4 == 0,
            F.concat(F.lit("/cal/"), F.col("event_id").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("/page/"), F.char(F.lit(97) + F.col("event_id") % 26))
        )
        .alias("path"),
    )
    return crawl_trap_stats(urls)


SQL_CRAWL_TRAPS = """
WITH u AS (
  SELECT 'h' || lpad(CAST(user_id % 40 AS VARCHAR), 3, '0') || '.example.org' AS host,
         CASE WHEN (user_id % 40) % 4 = 0
              THEN '/cal/' || CAST(event_id AS VARCHAR)
              ELSE '/page/' || chr(97 + CAST(event_id % 26 AS INT)) END AS path
  FROM events
), t AS (
  SELECT host, path, regexp_replace(path, '[0-9]+', 'N', 'g') AS template FROM u
), a AS (
  SELECT host, count(DISTINCT path) AS n_urls,
         count(DISTINCT template) AS n_templates
  FROM t GROUP BY host
)
SELECT host, n_urls, n_templates,
       (1000 * n_urls) // n_templates AS amplification_milli,
       (1000 * n_urls) // n_templates >= 8000 AS is_trap
FROM a
"""


# --- X75: mergeable histogram quantiles --------------------------------------

HIST_WIDTH = 64


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language p50/p95/p99 of document length from a fixed-width
    histogram sketch (operators/sketch.py::histogram_sketch /
    histogram_quantiles): counts merge across partitions/rounds, the
    estimate is the first-bucket upper bound (true quantile ≤ estimate
    < true + 64; invariant pinned in tests/test_crawlops.py)."""
    from .operators.sketch import histogram_quantiles, histogram_sketch

    d = _t(spark, sf_dir, "documents")
    sk = histogram_sketch(d, ["lang"], "n_chars", width=HIST_WIDTH)
    return histogram_quantiles(sk, ["lang"], permilles=(500, 950, 990), width=HIST_WIDTH)


SQL_HIST_QUANTILES = f"""
WITH s AS (
  SELECT lang, n_chars // {HIST_WIDTH} AS bucket, count(*) AS cnt
  FROM documents GROUP BY lang, bucket
), c AS (
  SELECT lang, bucket,
         CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM s
), e AS (
  SELECT lang, bucket, cum, n, p.permille,
         (p.permille * n + 999) // 1000 AS target
  FROM c CROSS JOIN (VALUES (500), (950), (990)) p(permille)
)
SELECT lang, permille, max(n) AS n,
       min(CASE WHEN cum >= target THEN bucket END) * {HIST_WIDTH}
         + {HIST_WIDTH - 1} AS estimate
FROM e GROUP BY lang, permille
"""


# --- X86: registrable-domain (eTLD+1) politeness rollup -----------------------


def q_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level politeness: collapse hosts to their REGISTRABLE domain
    (frontier/canon.py::registrable_domain — longest-suffix match against
    a broadcast public-suffix table, three left broadcast joins, no
    shuffle of the URL table) and roll budgets up per domain, capping the
    subdomain-spam amplification a per-host-only budget can't see.
    Derived hosts cover multi-label suffixes (co.uk, github.io), a host
    that IS a public suffix, and a dotless host."""
    from .frontier.canon import PSL_SUBSET, registrable_domain

    e = _t(spark, sf_dir, "events")
    sub = (
        F.when(F.col("event_id") % 3 == 0, F.lit("www."))
        .when(F.col("event_id") % 3 == 1, F.lit("img."))
        .otherwise(F.lit(""))
    )
    sfx = (
        F.when(F.col("user_id") % 4 == 0, F.lit("org"))
        .when(F.col("user_id") % 4 == 1, F.lit("co.uk"))
        .when(F.col("user_id") % 4 == 2, F.lit("github.io"))
        .otherwise(F.lit("com"))
    )
    host = (
        F.when(F.col("event_id") % 31 == 0, F.lit("github.io"))
        .when(F.col("event_id") % 31 == 1, F.lit("localhost"))
        .otherwise(
            F.concat(
                sub,
                F.lit("h"),
                F.lpad((F.col("event_id") % 97).cast("string"), 2, "0"),
                F.lit(".site"),
                (F.col("user_id") % 40).cast("string"),
                F.lit("."),
                sfx,
            )
        )
    )
    urls = e.select(F.col("event_id").alias("url_id"), host.alias("host"))
    suffixes = spark.createDataFrame([(s,) for s in PSL_SUBSET], "sfx string")
    with_domain = registrable_domain("host", suffixes)(urls)
    return with_domain.groupBy("domain").agg(
        F.countDistinct("host").alias("n_hosts"),
        F.count("*").cast("long").alias("n_urls"),
        F.least(F.count("*"), F.lit(25)).cast("long").alias("domain_budget"),
    )


def _sql_domain_caps() -> str:
    from .frontier.canon import PSL_SUBSET

    values = ", ".join(f"('{s}')" for s in PSL_SUBSET)
    return f"""
WITH u AS (
  SELECT event_id AS url_id,
         CASE WHEN event_id % 31 = 0 THEN 'github.io'
              WHEN event_id % 31 = 1 THEN 'localhost'
              ELSE (CASE WHEN event_id % 3 = 0 THEN 'www.'
                         WHEN event_id % 3 = 1 THEN 'img.'
                         ELSE '' END)
                   || 'h' || lpad(CAST(event_id % 97 AS VARCHAR), 2, '0')
                   || '.site' || CAST(user_id % 40 AS VARCHAR) || '.'
                   || (CASE WHEN user_id % 4 = 0 THEN 'org'
                            WHEN user_id % 4 = 1 THEN 'co.uk'
                            WHEN user_id % 4 = 2 THEN 'github.io'
                            ELSE 'com' END)
         END AS host
  FROM events
), lab AS (
  SELECT url_id, host, string_split(host, '.') AS l, len(string_split(host, '.')) AS n
  FROM u
), cand AS (
  SELECT url_id, host, l, n,
         l[n] AS c1,
         CASE WHEN n >= 2 THEN l[n-1] || '.' || l[n] END AS c2,
         CASE WHEN n >= 3 THEN l[n-2] || '.' || l[n-1] || '.' || l[n] END AS c3
  FROM lab
), m AS (
  SELECT c.*, s3.sfx AS m3, s2.sfx AS m2, s1.sfx AS m1
  FROM cand c
  LEFT JOIN (VALUES {values}) s3(sfx) ON c.c3 = s3.sfx
  LEFT JOIN (VALUES {values}) s2(sfx) ON c.c2 = s2.sfx
  LEFT JOIN (VALUES {values}) s1(sfx) ON c.c1 = s1.sfx
), d AS (
  SELECT url_id, host,
         CASE WHEN m3 IS NULL AND m2 IS NULL AND m1 IS NULL THEN host
              WHEN n <= (CASE WHEN m3 IS NOT NULL THEN 3
                              WHEN m2 IS NOT NULL THEN 2 ELSE 1 END) THEN host
              ELSE l[n - (CASE WHEN m3 IS NOT NULL THEN 3
                               WHEN m2 IS NOT NULL THEN 2 ELSE 1 END)]
                   || '.' || coalesce(m3, m2, m1)
         END AS domain
  FROM m
)
SELECT domain,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(least(count(*), 25) AS BIGINT) AS domain_budget
FROM d GROUP BY domain
"""


SQL_DOMAIN_CAPS = _sql_domain_caps()


# --- X99: bitext URL pairing (parallel-corpus candidate mining) --------------


def q_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99: bitext candidates (frontier/canon.py::bitext_url_pairs).
    URL space from events: page p = e%400, lang index li = (e div
    400)%5 over en/fr/de/es/zh, host = p%3 (shared across a page's
    languages — the key includes it), with (p+li)%7==0 languages
    MISSING (incl. missing pivots: p%7==0 pages have no /en/ and
    contribute nothing) and /raw/ decoy URLs carrying no language
    segment (must be dropped by the segment filter). Lengths are
    200+3p+7li (ratio near 1000, passes) except p%11 non-pivot pages
    at 40+p — a genuine divergence the length-ratio rule must reject.
    The Spark side parses real URL strings; the oracle derives pairs
    relationally from the moduli — independent formulations, matching
    url_a/url_b/lang_b/ratio_milli."""
    from .frontier.canon import bitext_url_pairs

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    base = (
        e.select((eid % 400).alias("p"), (F.expr("event_id div 400") % 5).alias("li"))
        .distinct()
        .filter((F.col("p") + F.col("li")) % 7 != 0)
    )
    langs = ["en", "fr", "de", "es", "zh"]
    lang = F.element_at(
        F.array(*[F.lit(x) for x in langs]), F.col("li").cast("int") + 1
    )
    host = F.concat(
        F.lit("site"), (F.col("p") % 3).cast("string"), F.lit(".example.org")
    )
    url = F.concat(
        F.lit("http://"), host, F.lit("/"), lang, F.lit("/art/"),
        F.col("p").cast("string"),
    )
    clen = (
        F.when(
            (F.col("p") % 11 == 0) & (F.col("li") > 0), F.lit(40) + F.col("p")
        ).otherwise(F.lit(200) + F.col("p") * 3 + F.col("li") * 7)
    )
    pages = base.select(url.alias("url"), clen.alias("content_len"))
    decoys = base.filter((F.col("p") % 13 == 0) & (F.col("li") == 0)).select(
        F.concat(
            F.lit("http://"), host, F.lit("/raw/"), F.col("p").cast("string")
        ).alias("url"),
        F.lit(100).cast("long").alias("content_len"),
    )
    return bitext_url_pairs(
        pages.unionByName(decoys), langs, pivot="en", min_len_ratio_milli=600
    )


SQL_BITEXT_PAIRS = """
WITH base AS (
  SELECT DISTINCT event_id % 400 AS p, (event_id // 400) % 5 AS li FROM events
), pg AS (
  SELECT p, li,
         ['en','fr','de','es','zh'][li + 1] AS lang,
         CASE WHEN p % 11 = 0 AND li > 0 THEN 40 + p
              ELSE 200 + p * 3 + li * 7 END AS content_len
  FROM base WHERE (p + li) % 7 <> 0
)
SELECT
  'http://site' || (a.p % 3) || '.example.org/en/art/' || a.p AS url_a,
  'http://site' || (b.p % 3) || '.example.org/' || b.lang || '/art/' || b.p AS url_b,
  b.lang AS lang_b,
  (1000 * least(a.content_len, b.content_len))
    // greatest(a.content_len, b.content_len) AS ratio_milli
FROM pg a JOIN pg b ON a.p = b.p AND a.li = 0 AND b.li > 0
WHERE (1000 * least(a.content_len, b.content_len))
      // greatest(a.content_len, b.content_len) >= 600
"""


# --- X100: rendezvous fetcher sharding (HRW + bounded-load spill) ------------

RV_SHARDS = 8
RV_CAP = 5500  # per-shard URL-weight budget; ~80% of the 6.8k even share


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X100: HRW fetcher sharding (frontier/politeness.py::
    rendezvous_shards). Host universe from events: hid = event_id mod
    997 → host-{hid}.example.org with URL weight (hid mod 91) + 10
    (total ≈54.7k, even share ≈6.8k per 8 shards, cap 5500 ⇒ every
    shard's tail spills to its second choice — both branches live).
    portable=True: every score is md5h60(host ':' k), reproduced
    verbatim by the oracle; the two-level bucketed admission must be
    indistinguishable from the oracle's single flat per-shard window."""
    from .frontier.politeness import rendezvous_shards

    e = _t(spark, sf_dir, "events")
    hosts = (
        e.select((F.col("event_id") % 997).alias("hid"))
        .distinct()
        .select(
            F.concat(
                F.lit("host-"), F.col("hid").cast("string"), F.lit(".example.org")
            ).alias("host"),
            ((F.col("hid") % 91) + 10).alias("url_count"),
        )
    )
    return rendezvous_shards(
        hosts, n_shards=RV_SHARDS, cap=RV_CAP, portable=True
    )


SQL_RENDEZVOUS_SHARDS = f"""
WITH h AS (
  SELECT DISTINCT event_id % 997 AS hid FROM events
), hosts AS (
  SELECT 'host-' || hid || '.example.org' AS host, (hid % 91) + 10 AS w
  FROM h
), sc AS (
  SELECT host, w, k,
         ('0x' || substr(md5(host || ':' || k), 1, 15))::BIGINT AS s
  FROM hosts CROSS JOIN range({RV_SHARDS}) t(k)
), ranked AS (
  SELECT host, w, k, s,
         row_number() OVER (PARTITION BY host ORDER BY s DESC, k ASC) AS rk
  FROM sc
), pick AS (
  SELECT host, any_value(w) AS w,
         max(CASE WHEN rk = 1 THEN k END) AS primary_shard,
         max(CASE WHEN rk = 2 THEN k END) AS secondary_shard,
         max(CASE WHEN rk = 1 THEN s END) AS best
  FROM ranked GROUP BY host
), run AS (
  SELECT *, sum(w) OVER (PARTITION BY primary_shard
                         ORDER BY best DESC, host ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pick
)
SELECT host, primary_shard,
       CASE WHEN cum <= {RV_CAP} THEN primary_shard
            ELSE secondary_shard END AS assigned_shard,
       CASE WHEN cum <= {RV_CAP} THEN 0 ELSE 1 END AS spilled
FROM run
"""


# --- X103: per-host politeness fetch timeline --------------------------------


def q_fetch_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X103: crawl-delay fetch schedule (frontier/politeness.py::
    fetch_timeline). URL universe from events: host h{event_id mod 97},
    url /u/{event_id}, priority (event_id div 97) mod 1000 — ~1000
    priorities per host span 4 coarsened cells at bucket_span 256, with
    heavy in-host ties exercising the url tie-break. Hosts with
    hid%3==0 are MISSING from the delays table and must get the 1000 ms
    default. Oracle is the flat per-host row_number the two-level
    decomposition must be indistinguishable from."""
    from .frontier.politeness import fetch_timeline

    e = _t(spark, sf_dir, "events").select("event_id").distinct()
    urls = e.select(
        F.concat(F.lit("h"), (F.col("event_id") % 97).cast("string")).alias("host"),
        F.concat(F.lit("/u/"), F.col("event_id").cast("string")).alias("url"),
        (F.expr("event_id div 97") % 1000).alias("priority"),
    )
    delays = (
        e.select((F.col("event_id") % 97).alias("hid"))
        .distinct()
        .filter(F.col("hid") % 3 != 0)
        .select(
            F.concat(F.lit("h"), F.col("hid").cast("string")).alias("host"),
            ((F.col("hid") % 5 + 1) * 100).alias("crawl_delay_ms"),
        )
    )
    return fetch_timeline(urls, delays, t0_ms=0, default_delay_ms=1000)


SQL_FETCH_TIMELINE = """
WITH e AS (
  SELECT DISTINCT event_id FROM events
), u AS (
  SELECT 'h' || (event_id % 97) AS host,
         '/u/' || event_id AS url,
         (event_id // 97) % 1000 AS pri
  FROM e
), r AS (
  SELECT host, url,
         row_number() OVER (PARTITION BY host ORDER BY pri, url) - 1 AS slot
  FROM u
), d AS (
  SELECT 'h' || hid AS host, ((hid % 5) + 1) * 100 AS delay
  FROM (SELECT DISTINCT event_id % 97 AS hid FROM events)
  WHERE hid % 3 <> 0
)
SELECT r.host, r.url, slot::BIGINT AS slot,
       (slot * coalesce(delay, 1000))::BIGINT AS scheduled_ms
FROM r LEFT JOIN d USING (host)
"""


# --- X107: sitemap discovery feed (composed end-to-end) -----------------------


def q_discovery_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107: the composed discovery flow a crawler actually runs —
    X92's sitemap parse → per-(host,url) dedup of repeated entries →
    anti-join against the seen set (portable md5h60(url) mod 3 == 0
    plays the seen table) → integer freshness/priority score
    (priority_milli·10⁵ + days since 2020-01-01 of lastmod) → top-2 per
    host. 'sitemap' kind rows are excluded (they feed the fetcher, not
    the frontier). The oracle chains the FULL sitemap-parse oracle as a
    CTE (corpus_pipeline precedent) and re-derives the feed; per-host
    windows run over sitemap-sized groups (KB documents — bounded)."""
    from .operators.dedup import md5h60

    sm = q_sitemap_parse(spark, sf_dir)
    urls = (
        sm.filter(F.col("kind") == "url")
        .groupBy("host", F.col("loc").alias("url"))
        .agg(
            F.max("priority_milli").alias("prio"),
            F.max("lastmod").alias("lastmod"),
        )
    )
    seen = urls.filter(md5h60(F.col("url")) % 3 == 0).select("url")
    fresh = urls.join(seen, "url", "left_anti")
    score = F.expr(
        "coalesce(prio, 500) * 100000"
        " + coalesce(datediff(to_date(lastmod), date'2020-01-01'), 0)"
    )
    w = Window.partitionBy("host").orderBy(
        F.col("score").desc(), F.col("url").asc()
    )
    return (
        fresh.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("host", "url", F.col("score").cast("long").alias("score"), "rank")
    )


def _sql_discovery_feed() -> str:
    return f"""
WITH sm AS (
{SQL_SITEMAP_PARSE}
), urls AS (
  SELECT host, loc AS url,
         max(priority_milli) AS prio, max(lastmod) AS lastmod
  FROM sm WHERE kind = 'url'
  GROUP BY host, loc
), fresh AS (
  SELECT * FROM urls
  WHERE ('0x' || substr(md5(url), 1, 15))::BIGINT % 3 <> 0
), scored AS (
  SELECT host, url,
         (coalesce(prio, 500) * 100000
          + coalesce(date_diff('day', DATE '2020-01-01', lastmod::DATE), 0)
         )::BIGINT AS score
  FROM fresh
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host
                               ORDER BY score DESC, url ASC) AS rank
  FROM scored
)
SELECT host, url, score, rank FROM ranked WHERE rank <= 2
"""


# --- X136: snapshot GC planner ------------------------------------------------


def q_gc_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X136: expire-snapshots as data (operators/layout.py::gc_plan).
    Commit log from events: 4 tables × rounds (e div 4) mod 30, a
    compaction every 10th round, keep_rounds=8 — every reason branch
    (live-base, deletable, time-travel-retained, live) is populated:
    rounds 0-19 appends are superseded by the round-20 compaction,
    those below round 21 horizon are deletable, 21+ appends live."""
    from .operators.layout import gc_plan

    e = _t(spark, sf_dir, "events")
    base = (
        e.select(
            (F.col("event_id") % 4).alias("t"),
            (F.expr("event_id div 4") % 30).alias("round"),
        )
        .distinct()
    )
    commits = base.select(
        F.concat(F.lit("tbl"), F.col("t").cast("string")).alias("table"),
        F.concat(
            F.lit("snap-"), F.col("t").cast("string"), F.lit("-"),
            F.col("round").cast("string"),
        ).alias("snap"),
        "round",
        F.when(F.col("round") % 10 == 0, "compact").otherwise("append").alias(
            "kind"
        ),
        ((F.col("round") + 1) * 1000 + F.col("t")).alias("bytes"),
    )
    return gc_plan(commits, keep_rounds=8)


SQL_GC_PLAN = """
WITH base AS (
  SELECT DISTINCT event_id % 4 AS t, (event_id // 4) % 30 AS round FROM events
), commits AS (
  SELECT 'tbl' || t AS "table",
         'snap-' || t || '-' || round AS snap,
         round,
         CASE WHEN round % 10 = 0 THEN 'compact' ELSE 'append' END AS kind,
         (round + 1) * 1000 + t AS bytes
  FROM base
), per AS (
  SELECT "table", max(round) AS maxr,
         max(CASE WHEN kind = 'compact' THEN round END) AS lastc
  FROM commits GROUP BY "table"
), j AS (
  SELECT c.*, p.maxr, p.lastc FROM commits c JOIN per p USING ("table")
), r AS (
  SELECT "table", snap, round, kind, bytes,
         CASE WHEN kind = 'compact' THEN 'live-base'
              WHEN kind = 'append' AND round <= coalesce(lastc, -1)
                   AND round < maxr - 8 THEN 'deletable'
              WHEN kind = 'append' AND round <= coalesce(lastc, -1)
                   THEN 'time-travel-retained'
              ELSE 'live' END AS reason
  FROM j
)
SELECT "table", snap, round, kind, bytes, reason,
       reason = 'deletable' AS deletable
FROM r
"""


# --- X135: sitemap-vs-crawl coverage diff -------------------------------------


def q_coverage_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X135: discovery-loop closing audit (frontier/sitemap.py::
    coverage_diff). URL universe u = event_id mod 600 on hosts
    h{u mod 20}: the sitemap declares u%3 != 0, the crawl reached
    u%2 == 0 — all four quadrants (declared+crawled, declared-only,
    orphan, absent) are populated per host by construction."""
    from .frontier.sitemap import coverage_diff

    e = _t(spark, sf_dir, "events")
    u = (F.col("event_id") % 600).alias("u")
    base = e.select(u).distinct()
    host = F.concat(F.lit("h"), (F.col("u") % 20).cast("string"))
    url = F.concat(F.lit("/u/"), F.col("u").cast("string"))
    declared = base.filter(F.col("u") % 3 != 0).select(
        host.alias("host"), url.alias("url")
    )
    crawled = base.filter(F.col("u") % 2 == 0).select(
        host.alias("host"), url.alias("url")
    )
    return coverage_diff(declared, crawled)


SQL_COVERAGE_DIFF = """
WITH base AS (
  SELECT DISTINCT event_id % 600 AS u FROM events
), d AS (
  SELECT DISTINCT 'h' || (u % 20) AS host, '/u/' || u AS url
  FROM base WHERE u % 3 <> 0
), c AS (
  SELECT DISTINCT 'h' || (u % 20) AS host, '/u/' || u AS url
  FROM base WHERE u % 2 = 0
), j AS (
  SELECT coalesce(d.host, c.host) AS host,
         (d.url IS NOT NULL)::INT AS dd,
         (c.url IS NOT NULL)::INT AS cc
  FROM d FULL OUTER JOIN c ON d.host = c.host AND d.url = c.url
)
SELECT host,
       sum(dd)::BIGINT AS n_declared,
       sum(cc)::BIGINT AS n_crawled,
       sum(dd * cc)::BIGINT AS n_both,
       CASE WHEN sum(dd) = 0 THEN 0
            ELSE (1000 * sum(dd * cc)) // sum(dd) END::BIGINT
         AS coverage_milli,
       CASE WHEN sum(cc) = 0 THEN 0
            ELSE (1000 * (sum(cc) - sum(dd * cc))) // sum(cc) END::BIGINT
         AS orphan_milli
FROM j GROUP BY host
"""


# --- X134: allocation fairness index ------------------------------------------


def q_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X134: Jain fairness of the per-host fetch allocation, per round
    (operators/pipeline.py::fairness_index). Fetch counts h{e mod 25}
    per round (e div 25) mod 6; in round 0 host h0's tally is inflated
    ×40 (the hot-host round the politeness budget exists to prevent) —
    round 0 must read sharply less fair than rounds 1-5."""
    from .operators.pipeline import fairness_index

    e = _t(spark, sf_dir, "events")
    h = (F.col("event_id") % 25).alias("h")
    r = (F.expr("event_id div 25") % 6).alias("round")
    alloc = (
        e.select(h, r)
        .groupBy("h", "round")
        .agg(F.count("*").alias("n0"))
        .select(
            "round",
            F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
            F.when((F.col("h") == 0) & (F.col("round") == 0), F.col("n0") * 40)
            .otherwise(F.col("n0"))
            .alias("n"),
        )
    )
    return fairness_index(alloc, group_cols=["round"], value_col="n")


SQL_FAIRNESS = """
WITH a AS (
  SELECT (event_id // 25) % 6 AS round, event_id % 25 AS h,
         count(*) AS n0
  FROM events GROUP BY 1, 2
), alloc AS (
  SELECT round,
         CASE WHEN h = 0 AND round = 0 THEN n0 * 40 ELSE n0 END AS n
  FROM a
)
SELECT round, count(*) AS n_members,
       sum(n)::BIGINT AS total,
       CASE WHEN sum(n * n) = 0 THEN 0
            ELSE ((1000 * sum(n)::HUGEINT * sum(n))
                  // (count(*) * sum(n * n)::HUGEINT))::BIGINT END
         AS fairness_milli
FROM alloc GROUP BY round
"""


# --- X133: nepotistic-link reciprocity ----------------------------------------


def q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X133: link-exchange detection (operators/graph.py::
    host_reciprocity). Edges h{e mod 40} → h{7e mod 40} (self-loops
    dropped): the ×7 map is an involution exactly on multiples of 5
    mod 40, so those pairs come out perfectly reciprocal (1000 milli,
    flagged at volume) while everything else is one-sided (0) — both
    branches live from pure number theory, no injected noise."""
    from .operators.graph import host_reciprocity

    e = _t(spark, sf_dir, "events")
    links = e.select(
        F.concat(F.lit("h"), (F.col("event_id") % 40).cast("string")).alias(
            "src_host"
        ),
        F.concat(
            F.lit("h"), ((F.col("event_id") * 7) % 40).cast("string")
        ).alias("dst_host"),
    )
    return host_reciprocity(links, min_links=10, min_reciprocity_milli=600)


SQL_LINK_RECIPROCITY = """
WITH l AS (
  SELECT 'h' || (event_id % 40) AS s, 'h' || ((event_id * 7) % 40) AS d
  FROM events
), c AS (
  SELECT s, d, count(*) AS n FROM l WHERE s <> d GROUP BY s, d
), f AS (
  SELECT least(s, d) AS host_a, greatest(s, d) AS host_b,
         sum(CASE WHEN s = least(s, d) THEN n ELSE 0 END)::BIGINT AS a_to_b,
         sum(CASE WHEN s = greatest(s, d) THEN n ELSE 0 END)::BIGINT AS b_to_a
  FROM c GROUP BY host_a, host_b
)
SELECT host_a, host_b, a_to_b, b_to_a,
       (a_to_b + b_to_a) AS total_links,
       ((2000 * least(a_to_b, b_to_a)) // (a_to_b + b_to_a))::BIGINT
         AS reciprocity_milli,
       (a_to_b + b_to_a >= 10
        AND (2000 * least(a_to_b, b_to_a)) // (a_to_b + b_to_a) >= 600)
         AS flagged
FROM f
"""


# --- X131: pagination chain assembly ------------------------------------------


def q_pagination_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131: rel=next series stitching (frontier/canon.py::
    pagination_series). Pages /a/{k} (k = event_id mod 300) chain in
    runs of six — every page whose k%6 != 5 declares /a/{k+1} as next
    (quoted form on even k, bare on odd) — so each k resolves to head
    /a/{k - k%6} at position k%6. The oracle derives the REVERSED edge
    set from the moduli and replays the bounded recursive walk."""
    from .frontier.canon import pagination_series

    e = _t(spark, sf_dir, "events")
    k = F.col("event_id") % 300
    link = F.when(
        (k % 6 != 5) & (k % 2 == 0),
        F.concat(
            F.lit('<link rel="next" href="/a/'), (k + 1).cast("string"),
            F.lit('">'),
        ),
    ).when(
        k % 6 != 5,
        F.concat(
            F.lit("<link rel=next href=/a/"), (k + 1).cast("string"), F.lit(">")
        ),
    ).otherwise(F.lit(""))
    pages = e.select(k.alias("k"), link.alias("_l")).distinct().select(
        F.concat(F.lit("/a/"), F.col("k").cast("string")).alias("url"),
        F.concat(F.lit("<head>"), F.col("_l"), F.lit("</head>")).alias("html"),
    )
    return pagination_series(pages, max_hops=8)


SQL_PAGINATION_SERIES = """
WITH RECURSIVE ks AS (
  SELECT DISTINCT event_id % 300 AS k FROM events
), e AS (
  -- REVERSED next-edges: member m points at its predecessor
  SELECT '/a/' || k AS src, '/a/' || (k - 1) AS dst
  FROM ks WHERE k % 6 <> 0
), allnodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
), walk AS (
  SELECT node AS src, node AS cur, 0 AS hops FROM allnodes
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN e ON e.src = w.cur
  WHERE w.hops < 8
), fin AS (
  SELECT src, max(hops) AS mh FROM walk GROUP BY src
)
SELECT w.src AS url, w.cur AS series_id, CAST(w.hops AS BIGINT) AS position,
       CAST(CASE WHEN w.cur IN (SELECT src FROM e) THEN 0 ELSE 1 END
            AS INTEGER) AS resolved
FROM walk w JOIN fin f ON w.src = f.src AND w.hops = f.mh
"""


# --- X128: hreflang reciprocity audit -----------------------------------------


def q_hreflang_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X128: alternate-cluster validation (frontier/canon.py::
    hreflang_validation). Pages /p/{k} (k = event_id mod 400): even
    pages declare a quoted fr alternate at /p/{k+1} plus a SELF
    declaration (must drop); odd pages declare the en back-link in
    BARE-attribute form — except k%11==0 odds, which stay silent, so
    their even partners' declarations are one-sided. The oracle derives
    edges and reciprocity from the moduli, never the HTML."""
    from .frontier.canon import hreflang_validation

    e = _t(spark, sf_dir, "events")
    k = F.col("event_id") % 400
    even_links = F.concat(
        F.lit('<link rel="alternate" hreflang="fr" href="/p/'),
        (k + 1).cast("string"),
        F.lit('"><link rel="alternate" hreflang="en" href="/p/'),
        k.cast("string"),
        F.lit('">'),
    )
    odd_links = F.when(
        k % 11 != 0,
        F.concat(
            F.lit("<link rel=alternate hreflang=en href=/p/"),
            (k - 1).cast("string"),
            F.lit(">"),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"),
        F.when(k % 2 == 0, even_links).otherwise(odd_links),
        F.lit("</head></html>"),
    )
    pages = e.select(k.alias("k"), html.alias("_h")).distinct().select(
        F.concat(F.lit("/p/"), F.col("k").cast("string")).alias("url"),
        F.col("_h").alias("html"),
    )
    return hreflang_validation(pages)


SQL_HREFLANG_AUDIT = """
WITH ks AS (
  SELECT DISTINCT event_id % 400 AS k FROM events
), e AS (
  SELECT '/p/' || k AS src, 'fr' AS hreflang, '/p/' || (k + 1) AS dst, k
  FROM ks WHERE k % 2 = 0
  UNION ALL
  SELECT '/p/' || k, 'en', '/p/' || (k - 1), k
  FROM ks WHERE k % 2 = 1 AND k % 11 <> 0
), pairs AS (
  SELECT DISTINCT src, dst FROM e
)
SELECT e.src, e.hreflang, e.dst,
       EXISTS (SELECT 1 FROM pairs p
               WHERE p.src = e.dst AND p.dst = e.src) AS reciprocal
FROM e
"""


# --- X126: politeness compliance audit ----------------------------------------


def q_politeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X126: crawl-delay compliance (frontier/politeness.py::
    politeness_audit). Fetch timeline from events: host h{e mod 30},
    fetch k = e div 30 at ts = k·(h mod 4 + 1)·500 ms — hosts with
    h%4==0 space fetches 500 ms apart against an 800 ms declared delay
    (every gap violates), everyone else sits at >= 1000 ms (compliant);
    h%5==0 hosts are MISSING from the delays table and take the 700 ms
    default. The oracle replays the lag window and census."""
    from .frontier.politeness import politeness_audit

    e = _t(spark, sf_dir, "events")
    h = F.col("event_id") % 30
    fetches = e.select(
        F.concat(F.lit("h"), h.cast("string")).alias("host"),
        (
            F.expr("event_id div 30") * (h % 4 + 1) * 500_000
        ).cast("long").alias("ts_us"),
    )
    delays = (
        e.select((F.col("event_id") % 30).alias("hid"))
        .distinct()
        .filter(F.col("hid") % 5 != 0)
        .select(
            F.concat(F.lit("h"), F.col("hid").cast("string")).alias("host"),
            F.lit(800).cast("long").alias("crawl_delay_ms"),
        )
    )
    return politeness_audit(fetches, delays, default_delay_ms=700)


SQL_POLITENESS_AUDIT = """
WITH f AS (
  SELECT 'h' || (event_id % 30) AS host,
         (event_id // 30) * ((event_id % 30) % 4 + 1) * 500000 AS ts_us
  FROM events
), d AS (
  SELECT 'h' || hid AS host, 800 AS delay_ms
  FROM (SELECT DISTINCT event_id % 30 AS hid FROM events)
  WHERE hid % 5 <> 0
), g AS (
  SELECT f.host,
         ts_us - lag(ts_us) OVER (PARTITION BY f.host ORDER BY ts_us) AS gap,
         coalesce(d.delay_ms, 700) * 1000 AS delay_us
  FROM f LEFT JOIN d ON f.host = d.host
)
SELECT host, count(*) AS n_fetches,
       min(gap)::BIGINT AS min_gap_us,
       sum(CASE WHEN gap < delay_us THEN 1 ELSE 0 END)::BIGINT AS violations,
       sum(CASE WHEN gap < delay_us THEN 1 ELSE 0 END) = 0 AS compliant
FROM g GROUP BY host
"""


# --- X120: per-host crawl-health dashboard (composed) -------------------------


def q_host_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120: the ops view a crawl fleet actually watches — ONE host
    universe (h = event_id mod 20) feeding four operators, joined per
    host: overall ok-rate, worst consecutive-round status drift (X111),
    novelty-decay saturation (X106), and the p95-latency adaptive delay
    (X113). health = 'quarantine' (drift flagged OR saturated) >
    'throttle' (delay >= 1000 ms) > 'healthy'. The oracle chains every
    stage's SQL as CTEs on the same universe — the corpus_pipeline
    composition discipline applied to crawl ops."""
    from .frontier.politeness import adaptive_crawl_delay
    from .frontier.recrawl import host_saturation, status_drift

    e = _t(spark, sf_dir, "events")
    h = (F.col("event_id") % 20).alias("h")
    r = (F.expr("event_id div 20") % 8).alias("r")
    pick = F.when(
        (F.col("r") == F.col("h") % 8) & (F.col("h") % 3 == 0),
        F.col("event_id") % 4,
    ).otherwise(F.col("event_id") % 2)
    st = F.element_at(
        F.array(F.lit("ok"), F.lit("retry"), F.lit("dead"), F.lit("redirect")),
        pick.cast("int") + 1,
    )
    log = (
        e.select(h, r, "event_id")
        .withColumn("status", st)
        .groupBy("h", "r", "status")
        .agg(F.count("*").alias("n"))
        .select(
            F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
            F.col("r").alias("round"),
            "status",
            "n",
        )
    )
    sr = log.groupBy("host").agg(
        F.expr(
            "1000 * sum(CASE WHEN status = 'ok' THEN n ELSE 0 END) div sum(n)"
        ).alias("ok_milli")
    )
    dr = (
        status_drift(log, drift_threshold_milli=400)
        .groupBy("host")
        .agg(
            F.max("drift_milli").alias("max_drift_milli"),
            (F.max(F.col("flagged").cast("int")) == 1).alias("drift_flagged"),
        )
    )
    visits = (
        e.select(h, r)
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
            F.col("r").alias("round"),
            ((F.col("h") + F.col("r")) % 7 + 3).alias("fetched"),
            F.greatest(
                (F.col("h") + F.col("r")) % 7 + 3 - F.col("r"), F.lit(0)
            ).alias("new_count"),
        )
    )
    sat = host_saturation(visits, novelty_threshold_milli=300, k_rounds=3).select(
        "host", "streak_below", "saturated"
    )
    lat = e.select(
        F.concat(F.lit("h"), h.cast("string")).alias("host"),
        (
            F.expr("((event_id * 37) % 997) div (1 + (event_id % 20) % 7)")
            + ((F.col("event_id") % 20) % 5) * 300
        ).cast("long").alias("elapsed_ms"),
    )
    delay = adaptive_crawl_delay(
        lat, factor_milli=2000, min_delay_ms=100, max_delay_ms=5000
    ).select("host", "p95_ms", "crawl_delay_ms")
    dash = sr.join(dr, "host").join(sat, "host").join(delay, "host")
    health = (
        F.when(F.col("drift_flagged") | F.col("saturated"), "quarantine")
        .when(F.col("crawl_delay_ms") >= 1000, "throttle")
        .otherwise("healthy")
    )
    return dash.select(
        "host", "ok_milli", "max_drift_milli", "drift_flagged",
        "streak_below", "saturated", "p95_ms", "crawl_delay_ms",
        health.alias("health"),
    )


SQL_HOST_DASHBOARD = """
WITH ev AS (
  SELECT event_id % 20 AS h, (event_id // 20) % 8 AS r,
         CASE WHEN (event_id // 20) % 8 = (event_id % 20) % 8
                   AND (event_id % 20) % 3 = 0
              THEN event_id % 4 ELSE event_id % 2 END AS pick,
         event_id
  FROM events
), log AS (
  SELECT 'h' || h AS host, r AS round,
         ['ok','retry','dead','redirect'][pick + 1] AS status, count(*) AS n
  FROM ev GROUP BY h, r, pick
), sr AS (
  SELECT host,
         ((1000 * sum(CASE WHEN status = 'ok' THEN n ELSE 0 END))
          // sum(n))::BIGINT AS ok_milli
  FROM log GROUP BY host
), per AS (
  SELECT host, round,
         (1000 * sum(CASE WHEN status = 'ok' THEN n ELSE 0 END))
           // sum(n) AS m_ok,
         (1000 * sum(CASE WHEN status = 'retry' THEN n ELSE 0 END))
           // sum(n) AS m_retry,
         (1000 * sum(CASE WHEN status = 'dead' THEN n ELSE 0 END))
           // sum(n) AS m_dead,
         (1000 * sum(CASE WHEN status = 'redirect' THEN n ELSE 0 END))
           // sum(n) AS m_redirect
  FROM log GROUP BY host, round
), dr AS (
  SELECT a.host,
         max(abs(a.m_ok - b.m_ok) + abs(a.m_retry - b.m_retry)
             + abs(a.m_dead - b.m_dead)
             + abs(a.m_redirect - b.m_redirect))::BIGINT AS max_drift_milli,
         bool_or(abs(a.m_ok - b.m_ok) + abs(a.m_retry - b.m_retry)
                 + abs(a.m_dead - b.m_dead)
                 + abs(a.m_redirect - b.m_redirect) > 400) AS drift_flagged
  FROM per a JOIN per b ON a.host = b.host AND b.round = a.round + 1
  GROUP BY a.host
), vis AS (
  SELECT DISTINCT h, r FROM ev
), v2 AS (
  SELECT 'h' || h AS host, r, (h + r) % 7 + 3 AS f,
         greatest((h + r) % 7 + 3 - r, 0) AS nw
  FROM vis
), nv AS (
  SELECT host, r, (1000 * sum(nw)) // sum(f) AS novelty
  FROM v2 GROUP BY host, r
), la AS (
  SELECT host, max(CASE WHEN novelty >= 300 THEN r END) AS la
  FROM nv GROUP BY host
), sat AS (
  SELECT nv.host,
         sum(CASE WHEN la.la IS NULL OR r > la.la THEN 1 ELSE 0 END)::BIGINT
           AS streak_below,
         sum(CASE WHEN la.la IS NULL OR r > la.la THEN 1 ELSE 0 END) >= 3
           AS saturated
  FROM nv JOIN la ON nv.host = la.host
  GROUP BY nv.host
), lf AS (
  SELECT 'h' || h AS host,
         ((event_id * 37) % 997) // (1 + h % 7) + (h % 5) * 300 AS lat
  FROM ev
), sk AS (
  SELECT host, lat // 64 AS bucket, count(*) AS cnt FROM lf GROUP BY host, bucket
), cum AS (
  SELECT host, bucket,
         sum(cnt) OVER (PARTITION BY host ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY host) AS n
  FROM sk
), hit AS (
  SELECT host,
         min(CASE WHEN cum >= (950 * n + 999) // 1000 THEN bucket END) AS b
  FROM cum GROUP BY host
), dl AS (
  SELECT host, (b * 64 + 63)::BIGINT AS p95_ms,
         least(5000, greatest(100, ((b * 64 + 63) * 2000) // 1000))::BIGINT
           AS crawl_delay_ms
  FROM hit
)
SELECT sr.host, sr.ok_milli, dr.max_drift_milli, dr.drift_flagged,
       sat.streak_below, sat.saturated, dl.p95_ms, dl.crawl_delay_ms,
       CASE WHEN dr.drift_flagged OR sat.saturated THEN 'quarantine'
            WHEN dl.crawl_delay_ms >= 1000 THEN 'throttle'
            ELSE 'healthy' END AS health
FROM sr JOIN dr USING (host) JOIN sat USING (host) JOIN dl USING (host)
"""


# --- X117: rel=canonical cluster resolution -----------------------------------


def q_canonical_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117: canonical collapse (frontier/canon.py::canonical_resolution).
    Pages /p/{k} (k = event_id mod 500) declare canonicals in REAL HTML
    — double-quoted on even k, bare-attribute on odd k (both forms must
    parse): k%5==0 pages declare THEMSELVES (no edge), k%3==0 pages
    point at /p/{k div 2} (multi-hop chains where halves stay
    divisible), and pages 7↔11 form a declared cycle that must report
    unresolved at the hop cap. The oracle derives the edge set from the
    moduli INDEPENDENTLY of the HTML and walks it recursively — any
    extraction drift (quote forms, self-link filter) diverges."""
    from .frontier.canon import canonical_resolution

    e = _t(spark, sf_dir, "events")
    k = F.col("event_id") % 500
    tgt = (
        F.when(k == 7, F.lit(11).cast("long"))
        .when(k == 11, F.lit(7).cast("long"))
        .when(k % 5 == 0, k)
        .when(k % 3 == 0, F.expr("(event_id % 500) div 2"))
    )
    link = F.when(
        tgt.isNotNull() & (k % 2 == 0),
        F.concat(
            F.lit('<link rel="canonical" href="/p/'), tgt.cast("string"),
            F.lit('">'),
        ),
    ).when(
        tgt.isNotNull(),
        F.concat(
            F.lit("<link rel=canonical href=/p/"), tgt.cast("string"), F.lit(">")
        ),
    ).otherwise(F.lit(""))
    pages = e.select(k.alias("k"), link.alias("_l")).distinct().select(
        F.concat(F.lit("/p/"), F.col("k").cast("string")).alias("url"),
        F.concat(
            F.lit("<html><head>"), F.col("_l"), F.lit("</head><body>x</body></html>")
        ).alias("html"),
    )
    return canonical_resolution(pages, max_hops=8)


SQL_CANONICAL_RESOLUTION = """
WITH RECURSIVE ks AS (
  SELECT DISTINCT event_id % 500 AS k FROM events
), e AS (
  SELECT '/p/' || k AS src, '/p/' || dst AS dst FROM (
    SELECT k,
           CASE WHEN k = 7 THEN 11
                WHEN k = 11 THEN 7
                WHEN k % 5 = 0 THEN NULL
                WHEN k % 3 = 0 THEN k // 2 END AS dst
    FROM ks
  ) WHERE dst IS NOT NULL AND dst <> k
), allnodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
), walk AS (
  SELECT node AS src, node AS cur, 0 AS hops FROM allnodes
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN e ON e.src = w.cur
  WHERE w.hops < 8
), fin AS (
  SELECT src, max(hops) AS mh FROM walk GROUP BY src
)
SELECT w.src AS node, w.cur AS final_node, CAST(w.hops AS BIGINT) AS hops,
       CAST(CASE WHEN w.cur IN (SELECT src FROM e) THEN 0 ELSE 1 END AS INTEGER)
         AS resolved
FROM walk w JOIN fin f ON w.src = f.src AND w.hops = f.mh
"""


# --- X116: global byte-budget admission ---------------------------------------

BB_BUDGET = 40_000_000  # bytes; ~30% of the sf0.01 candidate total


def q_byte_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116: bandwidth-capped selection (frontier/politeness.py::
    byte_budget_select). Candidates from events: url /u/{e}, priority
    e mod 20, est_bytes (e·131) mod 50000 + 500 — the budget admits
    roughly the top third, so the cut falls mid-priority-class and the
    in-cell url tie-break decides the boundary rows. Oracle is the
    flat ORDER BY (priority DESC, url) running sum the two-level
    decomposition must reproduce exactly."""
    from .frontier.politeness import byte_budget_select

    e = _t(spark, sf_dir, "events")
    cand = e.select(
        F.concat(F.lit("/u/"), F.col("event_id").cast("string")).alias("url"),
        (F.col("event_id") % 20).alias("priority"),
        ((F.col("event_id") * 131) % 50000 + 500).alias("est_bytes"),
    ).distinct()
    return byte_budget_select(cand, budget_bytes=BB_BUDGET)


SQL_BYTE_BUDGET = f"""
WITH cand AS (
  SELECT DISTINCT '/u/' || event_id AS url,
         event_id % 20 AS priority,
         (event_id * 131) % 50000 + 500 AS est_bytes
  FROM events
), r AS (
  SELECT url, priority, est_bytes,
         (sum(est_bytes) OVER (ORDER BY priority DESC, url
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW))::BIGINT AS cum_bytes
  FROM cand
)
SELECT url, priority, est_bytes, cum_bytes,
       cum_bytes <= {BB_BUDGET} AS selected
FROM r
"""


# --- X113: latency-adaptive crawl delay ---------------------------------------


def q_adaptive_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113: p95-driven politeness (frontier/politeness.py::
    adaptive_crawl_delay). Latency universe: host h{e mod 25}, latency
    ((e·37) mod 997) div (1 + h mod 7) + 300·(h mod 5), with host h24
    shifted +12000 ms (a struggling origin — the MAX clamp must fire)
    and the div-7 compression making h20 fast enough that the MIN
    clamp fires at factor 0.5. Both clamps and the open interior are
    live; the oracle replicates the sketch → cumulative → inclusive-
    upper-bound pick → clamp chain in integers."""
    from .frontier.politeness import adaptive_crawl_delay

    e = _t(spark, sf_dir, "events")
    h = F.col("event_id") % 25
    lat = (
        F.expr("((event_id * 37) % 997) div (1 + (event_id % 25) % 7)")
        + (h % 5) * 300
        + F.when(h == 24, 12000).otherwise(0)
    )
    log = e.select(
        F.concat(F.lit("h"), h.cast("string")).alias("host"),
        lat.cast("long").alias("elapsed_ms"),
    )
    return adaptive_crawl_delay(
        log, factor_milli=500, min_delay_ms=100, max_delay_ms=5000
    )


SQL_ADAPTIVE_DELAY = """
WITH f AS (
  SELECT 'h' || (event_id % 25) AS host,
         ((event_id * 37) % 997) // (1 + (event_id % 25) % 7)
         + ((event_id % 25) % 5) * 300
         + CASE WHEN event_id % 25 = 24 THEN 12000 ELSE 0 END AS lat
  FROM events
), sk AS (
  SELECT host, lat // 64 AS bucket, count(*) AS cnt FROM f GROUP BY host, bucket
), cum AS (
  SELECT host, bucket,
         sum(cnt) OVER (PARTITION BY host ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY host) AS n
  FROM sk
), hit AS (
  SELECT host, max(n) AS n,
         min(CASE WHEN cum >= (950 * n + 999) // 1000 THEN bucket END) AS b
  FROM cum GROUP BY host
)
SELECT host, n::BIGINT AS n, (b * 64 + 63)::BIGINT AS p95_ms,
       least(5000, greatest(100, ((b * 64 + 63) * 500) // 1000))::BIGINT
         AS crawl_delay_ms
FROM hit
"""


# --- X110: HTTP->HTTPS scheme merge -------------------------------------------


def q_scheme_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110: duplicate-origin merge (frontier/canon.py::scheme_merge).
    Page universe p = event_id div 2, scheme = event_id mod 2; https is
    MISSING for p%7==0 pages (http-only survivors), and p%11==0 pages
    serve DIFFERENT content over http (':variant' fingerprint — the
    keep-both cloaking case the merge must not touch). Everything else
    is mergeable with canonical https."""
    from .frontier.canon import scheme_merge

    e = _t(spark, sf_dir, "events")
    base = (
        e.select(
            F.expr("event_id div 2").alias("p"), (F.col("event_id") % 2).alias("s")
        )
        .distinct()
        .filter(~((F.col("p") % 7 == 0) & (F.col("s") == 1)))
    )
    host = F.concat(F.lit("h"), (F.col("p") % 30).cast("string"))
    path = F.concat(F.lit("/p/"), F.expr("p div 30").cast("string"))
    fp = F.md5(
        F.concat(
            host,
            path,
            F.when(
                (F.col("p") % 11 == 0) & (F.col("s") == 0), F.lit(":variant")
            ).otherwise(F.lit("")),
        )
    )
    pages = base.select(
        host.alias("host"),
        path.alias("path"),
        F.when(F.col("s") == 1, "https").otherwise("http").alias("scheme"),
        fp.alias("content_fp"),
    )
    return scheme_merge(pages)


SQL_SCHEME_MERGE = """
WITH base AS (
  SELECT DISTINCT event_id // 2 AS p, event_id % 2 AS s FROM events
), pg AS (
  SELECT 'h' || (p % 30) AS host, '/p/' || (p // 30) AS path,
         CASE WHEN s = 1 THEN 'https' ELSE 'http' END AS scheme,
         md5('h' || (p % 30) || '/p/' || (p // 30)
             || CASE WHEN p % 11 = 0 AND s = 0 THEN ':variant' ELSE '' END)
           AS fp
  FROM base WHERE NOT (p % 7 = 0 AND s = 1)
), agg AS (
  SELECT host, path,
         max(CASE WHEN scheme = 'https' THEN fp END) AS fps,
         max(CASE WHEN scheme = 'http' THEN fp END) AS fph
  FROM pg GROUP BY host, path
)
SELECT host, path,
       ((fph IS NOT NULL)::INT + (fps IS NOT NULL)::INT) AS n_schemes,
       CASE WHEN fps IS NOT NULL THEN 'https' ELSE 'http' END
         AS canonical_scheme,
       (fps IS NOT NULL AND fph IS NOT NULL AND fps = fph) AS mergeable
FROM agg
"""


# --- X111: per-host status-mix drift ------------------------------------------


def q_status_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111: consecutive-round status-distribution drift
    (frontier/recrawl.py::status_drift). Tallies from events: host
    h{e mod 20}, round (e div 20) mod 8; the status pick switches from
    a 2-way ok/retry mix to a 4-way uniform mix exactly at round
    h mod 8 — every host has one engineered drift spike at a different
    round, plus the spike's recovery edge one round later."""
    from .frontier.recrawl import status_drift

    e = _t(spark, sf_dir, "events")
    h = (F.col("event_id") % 20).alias("h")
    r = (F.expr("event_id div 20") % 8).alias("r")
    pick = F.when(
        F.col("r") == F.col("h") % 8, F.col("event_id") % 4
    ).otherwise(F.col("event_id") % 2)
    st = F.element_at(
        F.array(F.lit("ok"), F.lit("retry"), F.lit("dead"), F.lit("redirect")),
        pick.cast("int") + 1,
    )
    log = (
        e.select(h, r, "event_id")
        .withColumn("status", st)
        .groupBy("h", "r", "status")
        .agg(F.count("*").alias("n"))
        .select(
            F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
            F.col("r").alias("round"),
            "status",
            "n",
        )
    )
    return status_drift(log, drift_threshold_milli=400)


SQL_STATUS_DRIFT = """
WITH ev AS (
  SELECT event_id % 20 AS h, (event_id // 20) % 8 AS r,
         CASE WHEN (event_id // 20) % 8 = (event_id % 20) % 8
              THEN event_id % 4 ELSE event_id % 2 END AS pick
  FROM events
), log AS (
  SELECT 'h' || h AS host, r AS round,
         ['ok','retry','dead','redirect'][pick + 1] AS status,
         count(*) AS n
  FROM ev GROUP BY h, r, pick
), per AS (
  SELECT host, round,
         (1000 * sum(CASE WHEN status = 'ok' THEN n ELSE 0 END))
           // sum(n) AS m_ok,
         (1000 * sum(CASE WHEN status = 'retry' THEN n ELSE 0 END))
           // sum(n) AS m_retry,
         (1000 * sum(CASE WHEN status = 'dead' THEN n ELSE 0 END))
           // sum(n) AS m_dead,
         (1000 * sum(CASE WHEN status = 'redirect' THEN n ELSE 0 END))
           // sum(n) AS m_redirect
  FROM log GROUP BY host, round
)
SELECT a.host, a.round AS round_from, b.round AS round_to,
       (abs(a.m_ok - b.m_ok) + abs(a.m_retry - b.m_retry)
        + abs(a.m_dead - b.m_dead)
        + abs(a.m_redirect - b.m_redirect))::BIGINT AS drift_milli,
       (abs(a.m_ok - b.m_ok) + abs(a.m_retry - b.m_retry)
        + abs(a.m_dead - b.m_dead)
        + abs(a.m_redirect - b.m_redirect)) > 400 AS flagged
FROM per a JOIN per b ON a.host = b.host AND b.round = a.round + 1
"""


# --- X106: host saturation detection -----------------------------------------


def q_host_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106: novelty-decay stopping rule (frontier/recrawl.py::
    host_saturation). Visit tallies from events: host h{e mod 40},
    round (e div 40) mod 12, fetched (h+r) mod 7 + 3, new URLs
    greatest(fetched − r, 0) — novelty genuinely decays with round but
    wiggles with the mod-7 fetch volume, so hosts differ in where their
    last above-threshold round lands. threshold 300 milli, k=3."""
    from .frontier.recrawl import host_saturation

    e = _t(spark, sf_dir, "events")
    v = (
        e.select(
            (F.col("event_id") % 40).alias("h"),
            (F.expr("event_id div 40") % 12).alias("round"),
        )
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
            "round",
            ((F.col("h") + F.col("round")) % 7 + 3).alias("fetched"),
            F.greatest(
                (F.col("h") + F.col("round")) % 7 + 3 - F.col("round"), F.lit(0)
            ).alias("new_count"),
        )
    )
    return host_saturation(v, novelty_threshold_milli=300, k_rounds=3)


SQL_HOST_SATURATION = """
WITH base AS (
  SELECT DISTINCT event_id % 40 AS h, (event_id // 40) % 12 AS r FROM events
), v AS (
  SELECT 'h' || h AS host, r,
         (h + r) % 7 + 3 AS f,
         greatest((h + r) % 7 + 3 - r, 0) AS nw
  FROM base
), nv AS (
  SELECT host, r, sum(f) AS f, sum(nw) AS nw FROM v GROUP BY host, r
), n2 AS (
  SELECT host, r, (1000 * nw) // f AS novelty FROM nv
), la AS (
  SELECT host, max(CASE WHEN novelty >= 300 THEN r END) AS la
  FROM n2 GROUP BY host
)
SELECT n2.host,
       count(*) AS n_rounds,
       max(r) AS last_round,
       sum(CASE WHEN la.la IS NULL OR r > la.la THEN 1 ELSE 0 END)::BIGINT
         AS streak_below,
       sum(CASE WHEN la.la IS NULL OR r > la.la THEN 1 ELSE 0 END) >= 3
         AS saturated
FROM n2 JOIN la ON n2.host = la.host
GROUP BY n2.host
"""


# --- X104: RFC 9309 wildcard robots matching ---------------------------------


def q_robots_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X104: wildcard robots decisions (frontier/politeness.py::
    robots_wildcard_decisions). Hosts h0-h9; rules per host exercise
    every precedence branch: a universal '/private' disallow, a LONGER
    '/private/ok' allow on even hosts (longest-match flips the
    verdict), a '*.php$' end-anchored wildcard disallow on %3 hosts, a
    '/a*b' open wildcard disallow on %4 hosts, and an equal-length
    allow+disallow tie on '/t/p' for %5 hosts (allow must win). Paths
    from events cover every rule plus a no-match default-allow family.
    The oracle rebuilds the regex translation and the (spec, allow)
    argmax independently with RE2 + row_number."""
    from .frontier.politeness import robots_wildcard_decisions

    e = _t(spark, sf_dir, "events")
    cand = (
        e.select(
            (F.col("event_id") % 10).alias("h"),
            (F.col("event_id") % 6).alias("pe"),
            (F.col("event_id") % 13).alias("n"),
        )
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
            F.when(F.col("pe") == 0, F.concat(F.lit("/private/ok/"), F.col("n")))
            .when(F.col("pe") == 1, F.concat(F.lit("/private/"), F.col("n")))
            .when(F.col("pe") == 2, F.concat(F.lit("/page"), F.col("n"), F.lit(".php")))
            .when(F.col("pe") == 3, F.concat(F.lit("/a/"), F.col("n"), F.lit("b")))
            .when(F.col("pe") == 4, F.lit("/t/p"))
            .otherwise(F.concat(F.lit("/free/"), F.col("n")))
            .alias("path"),
        )
        .distinct()
    )
    hosts = e.select((F.col("event_id") % 10).alias("h")).distinct()
    hn = F.concat(F.lit("h"), F.col("h").cast("string")).alias("host")

    def _r(cond, rule, pattern):
        return hosts.filter(cond).select(
            hn, F.lit(rule).alias("rule"), F.lit(pattern).alias("pattern")
        )

    rules = (
        _r(F.lit(True), "disallow", "/private")
        .unionByName(_r(F.col("h") % 2 == 0, "allow", "/private/ok"))
        .unionByName(_r(F.col("h") % 3 == 0, "disallow", "*.php$"))
        .unionByName(_r(F.col("h") % 4 == 0, "disallow", "/a*b"))
        .unionByName(_r(F.col("h") % 5 == 0, "allow", "/t/p"))
        .unionByName(_r(F.col("h") % 5 == 0, "disallow", "/t/p"))
    )
    return robots_wildcard_decisions(cand, rules)


SQL_ROBOTS_WILDCARD = r"""
WITH hs AS (
  SELECT DISTINCT event_id % 10 AS h FROM events
), cand AS (
  SELECT DISTINCT 'h' || h AS host,
    CASE pe
      WHEN 0 THEN '/private/ok/' || n
      WHEN 1 THEN '/private/' || n
      WHEN 2 THEN '/page' || n || '.php'
      WHEN 3 THEN '/a/' || n || 'b'
      WHEN 4 THEN '/t/p'
      ELSE '/free/' || n END AS path
  FROM (SELECT DISTINCT event_id % 10 AS h, event_id % 6 AS pe,
               event_id % 13 AS n FROM events)
), rules AS (
  SELECT 'h' || h AS host, 'disallow' AS rule, '/private' AS pattern FROM hs
  UNION ALL SELECT 'h' || h, 'allow', '/private/ok' FROM hs WHERE h % 2 = 0
  UNION ALL SELECT 'h' || h, 'disallow', '*.php$' FROM hs WHERE h % 3 = 0
  UNION ALL SELECT 'h' || h, 'disallow', '/a*b' FROM hs WHERE h % 4 = 0
  UNION ALL SELECT 'h' || h, 'allow', '/t/p' FROM hs WHERE h % 5 = 0
  UNION ALL SELECT 'h' || h, 'disallow', '/t/p' FROM hs WHERE h % 5 = 0
), rdim AS (
  SELECT host, pattern,
    CASE WHEN rule = 'allow' THEN 1 ELSE 0 END AS is_allow,
    length(pattern)::BIGINT AS spec,
    (pattern LIKE '%*%' OR pattern LIKE '%$') AS wild,
    '^' || replace(
      regexp_replace(
        CASE WHEN pattern LIKE '%$'
             THEN pattern[1:len(pattern)-1] ELSE pattern END,
        '([\\.\[\]{}()*+?^$|-])', '\\\1', 'g'),
      '\*', '.*')
      || (CASE WHEN pattern LIKE '%$' THEN '$' ELSE '' END) AS rx
  FROM rules
), hits AS (
  SELECT c.host, c.path, r.spec, r.is_allow,
         row_number() OVER (PARTITION BY c.host, c.path
                            ORDER BY r.spec DESC, r.is_allow DESC) AS rk
  FROM cand c JOIN rdim r ON c.host = r.host
  WHERE CASE WHEN r.wild THEN regexp_matches(c.path, r.rx)
             ELSE starts_with(c.path, r.pattern) END
), win AS (
  SELECT host, path, spec, is_allow FROM hits WHERE rk = 1
)
SELECT c.host, c.path,
       coalesce(w.is_allow = 1, TRUE) AS allowed,
       CASE WHEN w.host IS NULL THEN 'none'
            WHEN w.is_allow = 1 THEN 'allow'
            ELSE 'disallow' END AS win_rule,
       coalesce(w.spec, -1)::BIGINT AS win_spec
FROM cand c LEFT JOIN win w ON c.host = w.host AND c.path = w.path
"""


def register(queries: dict, oracles: dict) -> None:
    queries.update(
        {
            "q_rendezvous_shards": q_rendezvous_shards,
            "q_fetch_timeline": q_fetch_timeline,
            "q_robots_wildcard": q_robots_wildcard,
            "q_host_saturation": q_host_saturation,
            "q_discovery_feed": q_discovery_feed,
            "q_scheme_merge": q_scheme_merge,
            "q_status_drift": q_status_drift,
            "q_adaptive_delay": q_adaptive_delay,
            "q_byte_budget": q_byte_budget,
            "q_canonical_resolution": q_canonical_resolution,
            "q_host_dashboard": q_host_dashboard,
            "q_politeness_audit": q_politeness_audit,
            "q_hreflang_audit": q_hreflang_audit,
            "q_pagination_series": q_pagination_series,
            "q_link_reciprocity": q_link_reciprocity,
            "q_fairness": q_fairness,
            "q_coverage_diff": q_coverage_diff,
            "q_gc_plan": q_gc_plan,
            "q_bitext_pairs": q_bitext_pairs,
            "q_recrawl_schedule": q_recrawl_schedule,
            "q_merge_upsert": q_merge_upsert,
            "q_crawl_traps": q_crawl_traps,
            "q_hist_quantiles": q_hist_quantiles,
            "q_heavy_hitters": q_heavy_hitters,
            "q_snapshot_diff": q_snapshot_diff,
            "q_pack_bins": q_pack_bins,
            "q_url_canon": q_url_canon,
            "q_robots_gate": q_robots_gate,
            "q_robots_parse": q_robots_parse,
            "q_sitemap_parse": q_sitemap_parse,
            "q_mirror_hosts": q_mirror_hosts,
            "q_spurious_params": q_spurious_params,
            "q_revalidation_plan": q_revalidation_plan,
            "q_domain_caps": q_domain_caps,
            "q_redirect_chains": q_redirect_chains,
            "q_crawl_depths": q_crawl_depths,
            "q_latency_alarm": q_latency_alarm,
            "q_ip_caps": q_ip_caps,
            "q_hrw_movement": q_hrw_movement,
            "q_priority_aging": q_priority_aging,
            "q_path_rollup": q_path_rollup,
            "q_robots_drift": q_robots_drift,
            "q_homograph": q_homograph,
        }
    )
    oracles.update(
        {
            "q_rendezvous_shards": SQL_RENDEZVOUS_SHARDS,
            "q_fetch_timeline": SQL_FETCH_TIMELINE,
            "q_robots_wildcard": SQL_ROBOTS_WILDCARD,
            "q_host_saturation": SQL_HOST_SATURATION,
            "q_discovery_feed": _sql_discovery_feed(),
            "q_scheme_merge": SQL_SCHEME_MERGE,
            "q_status_drift": SQL_STATUS_DRIFT,
            "q_adaptive_delay": SQL_ADAPTIVE_DELAY,
            "q_byte_budget": SQL_BYTE_BUDGET,
            "q_canonical_resolution": SQL_CANONICAL_RESOLUTION,
            "q_host_dashboard": SQL_HOST_DASHBOARD,
            "q_politeness_audit": SQL_POLITENESS_AUDIT,
            "q_hreflang_audit": SQL_HREFLANG_AUDIT,
            "q_pagination_series": SQL_PAGINATION_SERIES,
            "q_link_reciprocity": SQL_LINK_RECIPROCITY,
            "q_fairness": SQL_FAIRNESS,
            "q_coverage_diff": SQL_COVERAGE_DIFF,
            "q_gc_plan": SQL_GC_PLAN,
            "q_bitext_pairs": SQL_BITEXT_PAIRS,
            "q_recrawl_schedule": SQL_RECRAWL_SCHEDULE,
            "q_merge_upsert": SQL_MERGE_UPSERT,
            "q_crawl_traps": SQL_CRAWL_TRAPS,
            "q_hist_quantiles": SQL_HIST_QUANTILES,
            "q_heavy_hitters": SQL_HEAVY_HITTERS,
            "q_snapshot_diff": SQL_SNAPSHOT_DIFF,
            "q_pack_bins": SQL_PACK_BINS,
            "q_url_canon": SQL_URL_CANON,
            "q_robots_gate": SQL_ROBOTS_GATE,
            "q_robots_parse": SQL_ROBOTS_PARSE,
            "q_sitemap_parse": SQL_SITEMAP_PARSE,
            "q_mirror_hosts": SQL_MIRROR_HOSTS,
            "q_spurious_params": SQL_SPURIOUS_PARAMS,
            "q_revalidation_plan": SQL_REVALIDATION_PLAN,
            "q_domain_caps": SQL_DOMAIN_CAPS,
            "q_redirect_chains": SQL_REDIRECT_CHAINS,
            "q_crawl_depths": SQL_CRAWL_DEPTHS,
            "q_latency_alarm": SQL_LATENCY_ALARM,
            "q_ip_caps": SQL_IP_CAPS,
            "q_hrw_movement": SQL_HRW_MOVEMENT,
            "q_priority_aging": SQL_PRIORITY_AGING,
            "q_path_rollup": SQL_PATH_ROLLUP,
            "q_robots_drift": SQL_ROBOTS_DRIFT,
            "q_homograph": SQL_HOMOGRAPH,
        }
    )


# --- X76: exact heavy hitters (CMS-pruned two-pass) ---------------------------

HH_K = 50


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1/50-heavy hitters (operators/sketch.py::heavy_hitters)
    over a zipf-ish derived keyspace: every 3rd event hits one of 7 hot
    keys, the rest spread over ~5000 tail keys. The CMS broadcast probe
    prunes the tail scan-side; the oracle is the plain exact GROUP BY —
    the two-pass plan must return exactly it (CMS only OVERcounts, so
    candidates are a superset and the exact confirm pass is lossless)."""
    from .operators.sketch import heavy_hitters

    e = _t(spark, sf_dir, "events")
    keyed = e.select(
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit("hot"), (F.col("event_id") % 7).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("tail"), (F.col("event_id") % 4999).cast("string"))
        )
        .alias("hh_key")
    )
    return heavy_hitters(keyed, "hh_key", k=HH_K)


SQL_HEAVY_HITTERS = f"""
WITH t AS (
  SELECT CASE WHEN event_id % 3 = 0
              THEN 'hot' || CAST(event_id % 7 AS VARCHAR)
              ELSE 'tail' || CAST(event_id % 4999 AS VARCHAR) END AS hh_key
  FROM events
)
SELECT hh_key, count(*) AS cnt,
       (1000 * count(*)) // (SELECT count(*) FROM t) AS share_milli
FROM t GROUP BY hh_key
HAVING count(*) * {HH_K} > (SELECT count(*) FROM t)
"""


# --- X77: snapshot content diff ----------------------------------------------

def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-over-round change report (frontier/recrawl.py::
    snapshot_diff): the previous snapshot misses doc_id%17==0 (those
    become 'added'), the current misses %13==0 ('removed'), and %7==0
    re-renders with a v2 suffix ('changed'); fingerprints are the
    portable md5h60 over the text."""
    from .frontier.recrawl import snapshot_diff
    from .operators.dedup import md5h60

    d = _t(spark, sf_dir, "documents")
    prev = d.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id", md5h60(F.col("text")).alias("fp")
    )
    curr = d.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        md5h60(
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 7 == 0, F.lit("v2")).otherwise(F.lit("")),
            )
        ).alias("fp"),
    )
    return snapshot_diff(prev, curr, key_col="doc_id", fp_col="fp")


SQL_SNAPSHOT_DIFF = """
WITH prev AS (
  SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS prev_fp
  FROM documents WHERE doc_id % 17 <> 0
), curr AS (
  SELECT doc_id,
         ('0x' || substr(md5(text ||
            CASE WHEN doc_id % 7 = 0 THEN 'v2' ELSE '' END), 1, 15))::BIGINT AS curr_fp
  FROM documents WHERE doc_id % 13 <> 0
)
SELECT COALESCE(prev.doc_id, curr.doc_id) AS doc_id, prev_fp, curr_fp,
       CASE WHEN prev_fp IS NULL THEN 'added'
            WHEN curr_fp IS NULL THEN 'removed'
            WHEN prev_fp <> curr_fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM prev FULL OUTER JOIN curr ON prev.doc_id = curr.doc_id
"""


# --- X78: token-budget packing ------------------------------------------------

PACK_BUDGET = 8192


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (operators/pipeline.py::pack_bins): docs
    per language, doc_id order, n_chars as the size, 8192-char quota
    bins; reports per-bin fill. An item straddling a quota boundary
    stays in the bin it starts in (next-fit streaming pack)."""
    from .operators.pipeline import pack_bins

    d = _t(spark, sf_dir, "documents")
    packed = pack_bins(d, ["lang"], "doc_id", "n_chars", PACK_BUDGET)
    return packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SQL_PACK_BINS = f"""
WITH w AS (
  SELECT lang, doc_id, n_chars,
         CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_chars
              AS BIGINT) AS strt
  FROM documents
)
SELECT lang, strt // {PACK_BUDGET} AS bin_id, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM w GROUP BY lang, bin_id
"""


# --- X79: URL canonicalization (the seen-set key derivation) -------------------

def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole canonicalization pipeline (frontier/canon.py::
    canonicalize_url — fragment strip, scheme/host lowercase, default-
    port drop, bytewise query-param sort) over deliberately messy
    derived URLs: mixed case, :80/:8080 ports, reordered params, bare
    fragments. The canon string IS the seen-set identity, so the oracle
    recomputes every rule independently in DuckDB and also re-derives
    the portable 60-bit hash of the result."""
    from .frontier.canon import canonicalize_url
    from .operators.dedup import md5h60

    e = _t(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("HTTP://H"),
        F.lpad((F.col("user_id") % 40).cast("string"), 3, "0"),
        F.lit(".Example.ORG"),
        F.when(F.col("event_id") % 5 == 0, F.lit(":80"))
        .when(F.col("event_id") % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/doc/"),
        F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 4 == 0, F.lit("?b=2&a=1"))
        .when(F.col("event_id") % 4 == 1, F.lit("?x=9"))
        .when(F.col("event_id") % 4 == 2, F.lit(""))
        .otherwise(F.lit("#frag")),
    )
    canon = canonicalize_url(raw)
    return e.select(
        F.col("event_id").alias("url_id"),
        canon.alias("url_canon"),
        md5h60(canon).alias("canon_hash"),
    )


SQL_URL_CANON = """
WITH raw AS (
  SELECT event_id AS url_id,
         'HTTP://H' || lpad(CAST(user_id % 40 AS VARCHAR), 3, '0') || '.Example.ORG'
         || CASE WHEN event_id % 5 = 0 THEN ':80'
                 WHEN event_id % 5 = 1 THEN ':8080' ELSE '' END
         || '/doc/' || CAST(event_id AS VARCHAR)
         || CASE WHEN event_id % 4 = 0 THEN '?b=2&a=1'
                 WHEN event_id % 4 = 1 THEN '?x=9'
                 WHEN event_id % 4 = 2 THEN '' ELSE '#frag' END AS url
  FROM events
), parts AS (
  SELECT url_id, split_part(url, '#', 1) AS no_frag FROM raw
), split AS (
  SELECT url_id,
         lower(split_part(no_frag, '://', 1)) AS scheme,
         split_part(no_frag, '://', 2) AS rest
  FROM parts
), hostp AS (
  SELECT *,
         lower(split_part(split_part(rest, '/', 1), '?', 1)) AS hostport
  FROM split
), pieces AS (
  SELECT url_id, scheme,
         CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$',  '')
              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         substr(rest, length(hostport) + 1) AS pathq
  FROM hostp
), pq AS (
  SELECT url_id, scheme, host,
         split_part(pathq, '?', 1) AS path,
         instr(pathq, '?') > 0 AS has_q,
         array_to_string(list_sort(string_split(split_part(pathq, '?', 2), '&')), '&') AS sorted_q
  FROM pieces
), canon AS (
  SELECT url_id,
         scheme || '://' || host
         || CASE WHEN path = '' THEN '/' ELSE path END
         || CASE WHEN has_q AND sorted_q <> '' THEN '?' || sorted_q ELSE '' END AS url_canon
  FROM pq
)
SELECT url_id, url_canon,
       ('0x' || substr(md5(url_canon), 1, 15))::BIGINT AS canon_hash
FROM canon
"""


# --- X80: robots gate + crawl-delay budget cap ---------------------------------

def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14/P6 as one value-oracled surface (frontier/politeness.py::
    robots_allowed): derived URLs against a derived hosts table —
    every host disallows /word/view (reference oa.py:771-773), every
    5th also /mail/; every 4th host carries crawl_delay_ms=500 so the
    ROUND_PERIOD budget cap binds where the base budget (5000 for
    hostnum%3==2) exceeds it. Output: allowed rows with the effective
    per-round budget the scheduler will enforce."""
    from .frontier.politeness import robots_allowed

    e = _t(spark, sf_dir, "events")
    hostnum = F.col("user_id") % 40
    host = F.concat(
        F.lit("h"), F.lpad(hostnum.cast("string"), 3, "0"), F.lit(".example.org")
    )
    path = (
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit("/word/view/"), F.col("event_id").cast("string")),
        )
        .when(
            F.col("event_id") % 3 == 1,
            F.concat(F.lit("/doc/"), F.col("event_id").cast("string")),
        )
        .otherwise(F.concat(F.lit("/mail/"), F.col("event_id").cast("string")))
    )
    urls = e.select(
        F.col("event_id").alias("url_id"),
        host.alias("host"),
        F.concat(F.lit("http://"), host, path).alias("url_canon"),
    )
    hn = F.col("hn")
    hosts = (
        e.select((F.col("user_id") % 40).alias("hn"))
        .distinct()
        .select(
            F.concat(
                F.lit("h"), F.lpad(hn.cast("string"), 3, "0"), F.lit(".example.org")
            ).alias("host"),
            F.when(hn % 3 == 0, 10)
            .when(hn % 3 == 1, 50)
            .otherwise(5000)
            .cast("int")
            .alias("budget_per_round"),
            F.when(hn % 4 == 0, 500).otherwise(0).cast("int").alias("crawl_delay_ms"),
            F.when(
                hn % 5 == 0, F.array(F.lit("/word/view"), F.lit("/mail/"))
            )
            .otherwise(F.array(F.lit("/word/view")))
            .alias("robots_disallow"),
        )
    )
    out = robots_allowed(urls, hosts)
    return out.select("url_id", "host", "url_canon", "budget_per_round")


SQL_ROBOTS_GATE = """
WITH u AS (
  SELECT event_id AS url_id, user_id % 40 AS hn,
         CASE WHEN event_id % 3 = 0 THEN '/word/view/' || CAST(event_id AS VARCHAR)
              WHEN event_id % 3 = 1 THEN '/doc/' || CAST(event_id AS VARCHAR)
              ELSE '/mail/' || CAST(event_id AS VARCHAR) END AS path
  FROM events
), gated AS (
  SELECT * FROM u
  WHERE NOT (path LIKE '/word/view%' OR (hn % 5 = 0 AND path LIKE '/mail/%'))
), budgeted AS (
  SELECT url_id, hn, path,
         CASE WHEN hn % 3 = 0 THEN 10 WHEN hn % 3 = 1 THEN 50 ELSE 5000 END AS base,
         CASE WHEN hn % 4 = 0 THEN 500 ELSE 0 END AS delay
  FROM gated
)
SELECT url_id,
       'h' || lpad(CAST(hn AS VARCHAR), 3, '0') || '.example.org' AS host,
       'http://h' || lpad(CAST(hn AS VARCHAR), 3, '0') || '.example.org' || path AS url_canon,
       CAST(CASE WHEN delay > 0 THEN least(base, 1200000 // 500) ELSE base END AS INTEGER)
         AS budget_per_round
FROM budgeted
"""


# --- X88: multi-hop redirect-chain resolution ---------------------------------

REDIR_MOD = 4999
REDIR_HOPS = 8


def q_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-hop redirect resolution (operators/graph.py::
    resolve_pointer_chains — log-hop pointer doubling). The event log
    plays a redirect map: node = event_id mod 4999; nodes divisible by
    13 are terminals, the 17k+3/17k+4 pairs form 2-cycles (redirect
    loops), everything else points at node div 3 (chains of up to 8
    hops toward 0). The DuckDB twin is a plain bounded recursive walk —
    if doubling ever mis-counts a hop or stops at the wrong node, the
    row sets diverge."""
    from .operators.graph import resolve_pointer_chains

    nodes = (
        _t(spark, sf_dir, "events")
        .select((F.col("event_id") % REDIR_MOD).alias("node"))
        .distinct()
    )
    edges = nodes.select(
        F.col("node").alias("src"),
        F.when(F.col("node") % 13 == 0, F.lit(None).cast("long"))
        .when(F.col("node") % 17 == 3, F.col("node") + 1)
        .when(F.col("node") % 17 == 4, F.col("node") - 1)
        .otherwise(F.expr("node div 3"))
        .alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return resolve_pointer_chains(edges, max_hops=REDIR_HOPS)


SQL_REDIRECT_CHAINS = f"""
WITH RECURSIVE nodes0 AS (
  SELECT DISTINCT event_id % {REDIR_MOD} AS node FROM events
), e AS (
  SELECT src, dst FROM (
    SELECT node AS src,
           CASE WHEN node % 13 = 0 THEN NULL
                WHEN node % 17 = 3 THEN node + 1
                WHEN node % 17 = 4 THEN node - 1
                ELSE node // 3 END AS dst
    FROM nodes0
  ) WHERE dst IS NOT NULL
), allnodes AS (
  -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB treats a bare
  -- UNION in a helper CTE as the recursive union and skips the dedup
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
), walk AS (
  SELECT node AS src, node AS cur, 0 AS hops FROM allnodes
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN e ON e.src = w.cur
  WHERE w.hops < {REDIR_HOPS}
), fin AS (
  SELECT src, max(hops) AS mh FROM walk GROUP BY src
)
SELECT w.src AS node, w.cur AS final_node, CAST(w.hops AS BIGINT) AS hops,
       CAST(CASE WHEN w.cur IN (SELECT src FROM e) THEN 0 ELSE 1 END AS INTEGER)
         AS resolved
FROM walk w JOIN fin f ON w.src = f.src AND w.hops = f.mh
"""


# --- X91: robots.txt raw-text parser -------------------------------------------

def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91: parse raw robots.txt text into effective per-host rules for
    agent 'oa-spider' (frontier/politeness.py::parse_robots_txt — the
    upstream producer for the X80 robots gate; reference hard-codes the
    one rule at oa.py:771-773). 60 derived hosts exercise the grammar:
    mixed-case directives, inline comments, blank lines, orphan rules
    before any User-agent (dropped), consecutive UA lines sharing one
    group, a Sitemap line splitting a later UA run, empty-valued Allow
    (dropped), and exact-agent groups that shadow the '*' group on the
    hn%5 hosts. The DuckDB twin re-implements the same RFC 9309 group
    semantics with window functions — any drift in group assignment,
    precedence, or trimming diverges the row set."""
    from .frontier.politeness import parse_robots_txt

    e = _t(spark, sf_dir, "events")
    hn = F.col("hn")

    def opt(cond, s):
        return F.when(cond, F.lit(s))

    txt = F.concat_ws(
        "\n",
        F.lit("# synthetic robots.txt"),
        opt(hn % 11 == 0, "Disallow: /orphan"),
        F.lit("User-Agent: *"),
        opt(hn % 7 == 0, "Sitemap: http://example.org/sitemap.xml"),
        F.lit("Disallow: /word/view"),
        opt(hn % 3 == 0, "Disallow: /mail/"),
        opt(hn % 4 == 0, "Allow: /mail/public"),
        opt(hn % 6 == 0, "disallow:   /tmp  "),
        F.lit("Disallow: /cgi-bin # legacy"),
        F.lit(""),
        opt(hn % 5 == 0, "User-agent: oa-spider"),
        opt(hn % 5 == 0, "User-Agent: legacy-bot"),
        opt(hn % 5 == 0, "Disallow: /private"),
        opt(hn % 10 == 0, "Allow:"),
        opt(hn % 5 == 0, "Crawl-delay: 2"),
        opt(hn % 9 == 0, "User-agent: other-bot"),
        opt(hn % 9 == 0, "Disallow: /other"),
    )
    robots = (
        e.select((F.col("user_id") % 60).alias("hn"))
        .distinct()
        .select(
            F.concat(
                F.lit("h"), F.lpad(hn.cast("string"), 3, "0"), F.lit(".example.org")
            ).alias("host"),
            txt.alias("robots_txt"),
        )
    )
    return parse_robots_txt(robots, agent="oa-spider")


SQL_ROBOTS_PARSE = r"""
WITH hosts AS (
  SELECT DISTINCT user_id % 60 AS hn FROM events
), t AS (
  SELECT 'h' || lpad(CAST(hn AS VARCHAR), 3, '0') || '.example.org' AS host,
         concat_ws(chr(10),
           '# synthetic robots.txt',
           CASE WHEN hn % 11 = 0 THEN 'Disallow: /orphan' END,
           'User-Agent: *',
           CASE WHEN hn % 7 = 0 THEN 'Sitemap: http://example.org/sitemap.xml' END,
           'Disallow: /word/view',
           CASE WHEN hn % 3 = 0 THEN 'Disallow: /mail/' END,
           CASE WHEN hn % 4 = 0 THEN 'Allow: /mail/public' END,
           CASE WHEN hn % 6 = 0 THEN 'disallow:   /tmp  ' END,
           'Disallow: /cgi-bin # legacy',
           '',
           CASE WHEN hn % 5 = 0 THEN 'User-agent: oa-spider' END,
           CASE WHEN hn % 5 = 0 THEN 'User-Agent: legacy-bot' END,
           CASE WHEN hn % 5 = 0 THEN 'Disallow: /private' END,
           CASE WHEN hn % 10 = 0 THEN 'Allow:' END,
           CASE WHEN hn % 5 = 0 THEN 'Crawl-delay: 2' END,
           CASE WHEN hn % 9 = 0 THEN 'User-agent: other-bot' END,
           CASE WHEN hn % 9 = 0 THEN 'Disallow: /other' END
         ) AS robots_txt
  FROM hosts
), ln0 AS (
  SELECT host, unnest(generate_series(1, len(lst))) AS ln, lst
  FROM (SELECT host, string_split(robots_txt, chr(10)) AS lst FROM t)
), parsed0 AS (
  SELECT host, ln,
         lower(trim(regexp_extract(trim(regexp_replace(lst[ln], '#.*$', '')),
                                   '^([A-Za-z-]+)\s*:', 1))) AS directive,
         trim(regexp_extract(trim(regexp_replace(lst[ln], '#.*$', '')),
                             '^[A-Za-z-]+\s*:\s*(.*)$', 1)) AS value
  FROM ln0
), parsed AS (
  SELECT * FROM parsed0 WHERE directive <> ''
), flagged AS (
  SELECT host, ln, directive, value,
         CASE WHEN directive = 'user-agent'
              AND coalesce(lag(directive) OVER (PARTITION BY host ORDER BY ln), '')
                  <> 'user-agent'
              THEN 1 ELSE 0 END AS ng
  FROM parsed
), grouped AS (
  SELECT host, ln, directive, value,
         SUM(ng) OVER (PARTITION BY host ORDER BY ln
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
  FROM flagged
), g AS (
  SELECT * FROM grouped WHERE gid > 0
), agents AS (
  SELECT host, gid,
         max(CASE WHEN lower(value) = 'oa-spider' THEN 2
                  WHEN value = '*' THEN 1 ELSE 0 END) AS lvl
  FROM g WHERE directive = 'user-agent' GROUP BY host, gid
), pick AS (
  SELECT host, max(lvl) AS pick FROM agents GROUP BY host HAVING max(lvl) > 0
), chosen AS (
  SELECT a.host, a.gid FROM agents a
  JOIN pick p ON a.host = p.host AND a.lvl = p.pick
)
SELECT DISTINCT r.host, r.directive AS rule, r.value AS prefix
FROM g r JOIN chosen c ON r.host = c.host AND r.gid = c.gid
WHERE r.directive IN ('allow', 'disallow') AND r.value <> ''
"""


# --- X92: sitemap XML parsing ---------------------------------------------------

def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92: parse raw sitemap/sitemapindex XML into per-host discovery
    rows (frontier/sitemap.py::parse_sitemaps — the consumer of the
    Sitemap: lines X91 surfaces; the reference discovers URLs only via
    listing scrapes, oa.py:113-214). 50 derived hosts each publish a
    urlset document exercising the grammar — multi-line blocks, XML
    comments hiding an entry, entity-escaped query strings in <loc>,
    entries missing lastmod/changefreq/priority, a loc-less entry
    (dropped) — and every 8th host additionally publishes a
    sitemapindex document (two input rows for one host). The DuckDB
    twin re-implements the same block-regex grammar; any drift in
    comment stripping, entity decode order, or priority quantization
    diverges the rows."""
    from .frontier.sitemap import parse_sitemaps

    e = _t(spark, sf_dir, "events")
    hn = F.col("hn")
    base = F.concat(
        F.lit("http://h"), F.lpad(hn.cast("string"), 3, "0"), F.lit(".example.org")
    )

    def opt(cond, col):
        return F.when(cond, col)

    urlset = F.concat_ws(
        "\n",
        F.lit('<?xml version="1.0" encoding="UTF-8"?>'),
        F.lit("<urlset>"),
        F.concat(
            F.lit("  <url><loc> "),
            base,
            F.lit("/ </loc><lastmod>2025-07-01</lastmod>"),
            F.lit("<changefreq>daily</changefreq><priority>0.8</priority></url>"),
        ),
        opt(
            hn % 3 == 0,
            F.concat(
                F.lit("  <url>\n    <loc>"),
                base,
                F.lit("/a?x=1&amp;y=2</loc>\n    <priority>0.5</priority>\n  </url>"),
            ),
        ),
        opt(
            hn % 4 == 0,
            F.concat(
                F.lit("  <url><loc>"),
                base,
                F.lit("/b</loc><lastmod>2025-06-15T10:00:00Z</lastmod></url>"),
            ),
        ),
        opt(
            hn % 5 == 0,
            F.concat(
                F.lit("  <!-- retired:\n  <url><loc>"),
                base,
                F.lit("/gone</loc></url>\n  -->"),
            ),
        ),
        opt(hn % 6 == 0, F.lit("  <url><priority>0.9</priority></url>")),
        opt(
            hn % 7 == 0,
            F.concat(
                F.lit("  <url><loc>"),
                base,
                F.lit("/c</loc><changefreq>weekly</changefreq></url>"),
            ),
        ),
        F.lit("</urlset>"),
    )
    index = F.concat_ws(
        "\n",
        F.lit("<sitemapindex>"),
        F.concat(
            F.lit("  <sitemap><loc>"),
            base,
            F.lit("/sitemap-1.xml</loc><lastmod>2025-07-02</lastmod></sitemap>"),
        ),
        F.concat(
            F.lit("  <sitemap>\n    <loc>"),
            base,
            F.lit("/sitemap-2.xml.gz</loc>\n  </sitemap>"),
        ),
        F.lit("</sitemapindex>"),
    )
    hosts = e.select((F.col("user_id") % 50).alias("hn")).distinct()
    host = F.concat(
        F.lit("h"), F.lpad(hn.cast("string"), 3, "0"), F.lit(".example.org")
    )
    docs = hosts.select(host.alias("host"), urlset.alias("sitemap_xml")).unionByName(
        hosts.filter(hn % 8 == 0).select(
            host.alias("host"), index.alias("sitemap_xml")
        )
    )
    return parse_sitemaps(docs)


SQL_SITEMAP_PARSE = r"""
WITH hosts AS (
  SELECT DISTINCT user_id % 50 AS hn FROM events
), named AS (
  SELECT hn, 'h' || lpad(CAST(hn AS VARCHAR), 3, '0') || '.example.org' AS host,
         'http://h' || lpad(CAST(hn AS VARCHAR), 3, '0') || '.example.org' AS base
  FROM hosts
), docs AS (
  SELECT host, concat_ws(chr(10),
    '<?xml version="1.0" encoding="UTF-8"?>',
    '<urlset>',
    '  <url><loc> ' || base || '/ </loc><lastmod>2025-07-01</lastmod>' ||
      '<changefreq>daily</changefreq><priority>0.8</priority></url>',
    CASE WHEN hn % 3 = 0 THEN '  <url>' || chr(10) || '    <loc>' || base ||
      '/a?x=1&amp;y=2</loc>' || chr(10) || '    <priority>0.5</priority>' || chr(10) || '  </url>' END,
    CASE WHEN hn % 4 = 0 THEN '  <url><loc>' || base ||
      '/b</loc><lastmod>2025-06-15T10:00:00Z</lastmod></url>' END,
    CASE WHEN hn % 5 = 0 THEN '  <!-- retired:' || chr(10) || '  <url><loc>' || base ||
      '/gone</loc></url>' || chr(10) || '  -->' END,
    CASE WHEN hn % 6 = 0 THEN '  <url><priority>0.9</priority></url>' END,
    CASE WHEN hn % 7 = 0 THEN '  <url><loc>' || base ||
      '/c</loc><changefreq>weekly</changefreq></url>' END,
    '</urlset>'
  ) AS xml
  FROM named
  UNION ALL
  SELECT host, concat_ws(chr(10),
    '<sitemapindex>',
    '  <sitemap><loc>' || base || '/sitemap-1.xml</loc><lastmod>2025-07-02</lastmod></sitemap>',
    '  <sitemap>' || chr(10) || '    <loc>' || base || '/sitemap-2.xml.gz</loc>' || chr(10) || '  </sitemap>',
    '</sitemapindex>'
  ) AS xml
  FROM named WHERE hn % 8 = 0
), clean AS (
  SELECT host, regexp_replace(xml, '(?s)<!--.*?-->', '', 'g') AS x FROM docs
), blocks AS (
  SELECT host, 'url' AS kind,
         unnest(regexp_extract_all(x, '(?s)<url>(.*?)</url>', 1)) AS b
  FROM clean
  UNION ALL
  SELECT host, 'sitemap' AS kind,
         unnest(regexp_extract_all(x, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS b
  FROM clean
), parsed AS (
  SELECT host, kind,
    replace(replace(replace(replace(replace(
      trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', chr(39)), '&amp;', '&') AS loc,
    nullif(trim(regexp_extract(b, '(?s)<lastmod>(.*?)</lastmod>', 1)), '') AS lastmod,
    nullif(trim(regexp_extract(b, '(?s)<changefreq>(.*?)</changefreq>', 1)), '') AS changefreq,
    CASE WHEN trim(regexp_extract(b, '(?s)<priority>(.*?)</priority>', 1)) <> ''
         THEN CAST(round(CAST(trim(regexp_extract(b, '(?s)<priority>(.*?)</priority>', 1)) AS DOUBLE) * 1000, 0) AS BIGINT)
    END AS priority_milli
  FROM blocks
)
SELECT host, kind, loc, lastmod, changefreq, priority_milli
FROM parsed WHERE loc <> ''
"""


# --- X93: mirror-host detection -------------------------------------------------

def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93: host pairs with heavily overlapping content-fingerprint sets
    (operators/dedup.py::mirror_host_pairs) — the scheduler-level dedup
    that collapses mirror sites to one crawl target. Pages derive from
    events: fingerprint = event_id mod 397 (25–26 copies of each
    content at sf0.01), and copy k of a fingerprint lands on host
    (fp + 13k) mod 40 — a coprime stride, so every copy sits on a
    DIFFERENT host and host pairs share deterministic overlap. The fp
    self-join runs through the _cap_groups guard at cap=25, which
    genuinely fires here (the 75 fps with 26 copies at sf0.01 exceed
    it; capped fps still count in the per-host sizes) — the oracle
    replicates the cap, the exact-integer Jaccard floor-division, and
    both thresholds."""
    from .operators.dedup import mirror_host_pairs

    e = _t(spark, sf_dir, "events")
    pages = e.select(
        F.concat(
            F.lit("h"),
            F.lpad(
                F.pmod(
                    F.col("event_id") % 397 + F.expr("event_id div 397") * 13,
                    F.lit(40),
                ).cast("string"),
                2,
                "0",
            ),
        ).alias("host"),
        (F.col("event_id") % 397).alias("fp"),
    )
    return mirror_host_pairs(pages, min_shared=2, min_jaccard_milli=5, cap=25)


SQL_MIRROR_HOSTS = """
WITH d AS (
  SELECT DISTINCT
         'h' || lpad(CAST((event_id % 397 + (event_id // 397) * 13) % 40 AS VARCHAR), 2, '0') AS h,
         event_id % 397 AS fp
  FROM events
), sizes AS (
  SELECT h, count(*) AS n FROM d GROUP BY h
), capped AS (
  SELECT h, fp FROM (
    SELECT h, fp, count(*) OVER (PARTITION BY fp) AS gsz FROM d
  ) WHERE gsz <= 25
), pairs AS (
  SELECT a.h AS host_a, b.h AS host_b, count(*) AS shared
  FROM capped a JOIN capped b ON a.fp = b.fp AND a.h < b.h
  GROUP BY a.h, b.h
  HAVING count(*) >= 2
)
SELECT p.host_a, p.host_b, p.shared, sa.n AS n_a, sb.n AS n_b,
       (p.shared * 1000) // (sa.n + sb.n - p.shared) AS jaccard_milli
FROM pairs p
JOIN sizes sa ON p.host_a = sa.h
JOIN sizes sb ON p.host_b = sb.h
WHERE (p.shared * 1000) // (sa.n + sb.n - p.shared) >= 5
"""


# --- X96: spurious-URL-parameter inference ---------------------------------


def q_spurious_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96: learned canonicalization rules
    (frontier/canon.py::infer_spurious_params) — per (host, param), did
    the content fingerprint stay invariant while only that param's
    value changed? URL space derives from events: path p = e%20, page =
    (e div 20)%3, sess = (e div 60)%5, v = (e div 300)%2, host = p%4;
    fp depends on (p, page) always and on v ONLY for p < 10. So `sess`
    is fully spurious (milli 1000), `page` fully semantic (milli 0),
    and `v` is the mixed case — spurious on some paths of a host but
    not others (milli 400/600 by host, below the 900 bar: ONE content
    change on the host vetoes the strip rule, the conservative
    direction). The Spark side parses real URL strings (split/explode/
    substring_index, residual = stem + sorted other params); the oracle
    derives the same groups relationally from the moduli — independent
    formulations, matching verdicts."""
    from .frontier.canon import infer_spurious_params

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    base = e.select(
        (eid % 20).alias("p"),
        (F.expr("event_id div 20") % 3).alias("page"),
        (F.expr("event_id div 60") % 5).alias("sess"),
        (F.expr("event_id div 300") % 2).alias("v"),
    ).distinct()
    url = F.concat(
        F.lit("http://h"), (F.col("p") % 4).cast("string"), F.lit(".example.org/p/"),
        F.col("p").cast("string"),
        F.lit("?page="), F.col("page").cast("string"),
        F.lit("&sess="), F.col("sess").cast("string"),
        F.lit("&v="), F.col("v").cast("string"),
    )
    fp = (
        F.col("p") * 10
        + F.col("page")
        + F.when(F.col("p") < 10, F.col("v") * 1000).otherwise(F.lit(0))
    )
    pages = base.select(url.alias("url"), fp.alias("fp"))
    return infer_spurious_params(pages, min_groups=3, min_spurious_milli=900)


SQL_SPURIOUS_PARAMS = """
WITH base AS (
  SELECT DISTINCT event_id % 20 AS p, (event_id // 20) % 3 AS page,
         (event_id // 60) % 5 AS sess, (event_id // 300) % 2 AS v
  FROM events
), u AS (
  SELECT 'h' || (p % 4)::VARCHAR || '.example.org' AS host, p, page, sess, v,
         p * 10 + page + CASE WHEN p < 10 THEN v * 1000 ELSE 0 END AS fp
  FROM base
), e AS (
  SELECT host, 'page' AS param,
         p::VARCHAR || '|' || sess::VARCHAR || '|' || v::VARCHAR AS residual,
         page AS val, fp FROM u
  UNION ALL
  SELECT host, 'sess', p::VARCHAR || '|' || page::VARCHAR || '|' || v::VARCHAR,
         sess, fp FROM u
  UNION ALL
  SELECT host, 'v', p::VARCHAR || '|' || page::VARCHAR || '|' || sess::VARCHAR,
         v, fp FROM u
), g AS (
  SELECT host, param, residual,
         count(DISTINCT val) AS n_vals, count(DISTINCT fp) AS n_fps
  FROM e GROUP BY 1, 2, 3
), t AS (
  SELECT * FROM g WHERE n_vals >= 2
)
SELECT host, param,
       count(*)::BIGINT AS groups_tested,
       sum(CASE WHEN n_fps = 1 THEN 1 ELSE 0 END)::BIGINT AS groups_invariant,
       ((sum(CASE WHEN n_fps = 1 THEN 1 ELSE 0 END) * 1000) // count(*))::BIGINT
         AS spurious_milli,
       count(*) >= 3 AND
       (sum(CASE WHEN n_fps = 1 THEN 1 ELSE 0 END) * 1000) // count(*) >= 900
         AS spurious
FROM t GROUP BY 1, 2
"""


# --- X97: HTTP revalidation planner ----------------------------------------


def q_revalidation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97: RFC 9111 refetch planner
    (frontier/recrawl.py::revalidation_plan). Headers derive from
    events covering the full decision lattice: no-store, no-cache with
    and without validators, max-age both fresh and expired, heuristic
    freshness from Last-Modified, empty-string ETags (absent per RFC),
    and bare responses with nothing to go on. now_ms is a literal —
    time is data (F11/T3). The oracle recomputes the CASE lattice and
    the integer heuristic TTL; any drift in precedence (no-store over
    max-age, ETag over Last-Modified, fresh short-circuiting the
    validator) mismatches the action/validator columns."""
    from .frontier.recrawl import revalidation_plan

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    fetched = F.lit(1000000000) + (eid % 1000) * 10000
    snaps = e.select(
        F.concat(
            F.lit("http://h"), (eid % 5).cast("string"), F.lit("/r/"), eid.cast("string")
        ).alias("url"),
        fetched.alias("fetched_ms"),
        F.when(eid % 7 == 0, F.lit("no-store"))
        .when(eid % 7 == 1, F.lit("no-cache, private"))
        .when(
            (eid % 7 == 2) | (eid % 7 == 3),
            F.concat(F.lit("public, max-age="), (eid % 30000).cast("string")),
        )
        .alias("cache_control"),
        F.when(eid % 3 == 0, F.concat(F.lit('"t'), eid.cast("string"), F.lit('"')))
        .when(eid % 9 == 4, F.lit(""))
        .alias("etag"),
        F.when(eid % 2 == 0, fetched - (eid % 50) * 100000).alias("last_modified_ms"),
    )
    return revalidation_plan(snaps, now_ms=1020000000, heuristic_ttl_milli=100)


SQL_REVALIDATION_PLAN = r"""
WITH s AS (
  SELECT 'http://h' || (event_id % 5)::VARCHAR || '/r/' || event_id::VARCHAR AS url,
         1000000000 + (event_id % 1000) * 10000 AS fetched_ms,
         CASE WHEN event_id % 7 = 0 THEN 'no-store'
              WHEN event_id % 7 = 1 THEN 'no-cache, private'
              WHEN event_id % 7 IN (2, 3)
                THEN 'public, max-age=' || (event_id % 30000)::VARCHAR
         END AS cache_control,
         CASE WHEN event_id % 3 = 0 THEN '"t' || event_id::VARCHAR || '"'
              WHEN event_id % 9 = 4 THEN '' END AS etag,
         CASE WHEN event_id % 2 = 0
              THEN 1000000000 + (event_id % 1000) * 10000 - (event_id % 50) * 100000
         END AS last_modified_ms
  FROM events
), c AS (
  SELECT url, fetched_ms, etag, last_modified_ms,
         coalesce(lower(cache_control), '') AS cc,
         1020000000 - fetched_ms AS age,
         regexp_extract(coalesce(lower(cache_control), ''),
                        '(?:^|[,\s])max-age=(\d+)', 1) AS ma
  FROM s
), d AS (
  SELECT url, age,
         CASE WHEN ma <> '' THEN ma::BIGINT * 1000
              WHEN last_modified_ms IS NOT NULL
                THEN (fetched_ms - last_modified_ms) * 100 // 1000
              ELSE 0 END AS ttl,
         cc LIKE '%no-store%' AS no_store,
         cc LIKE '%no-cache%' AS no_cache,
         CASE WHEN etag IS NOT NULL AND etag <> '' THEN 'etag'
              WHEN last_modified_ms IS NOT NULL THEN 'last-modified'
              ELSE 'none' END AS v
  FROM c
)
SELECT url, age AS age_ms, ttl AS ttl_ms,
       greatest(age - ttl, 0) AS stale_ms,
       CASE WHEN no_store THEN 'refetch'
            WHEN NOT no_store AND NOT no_cache AND age <= ttl THEN 'fresh'
            WHEN v <> 'none' THEN 'revalidate'
            ELSE 'refetch' END AS action,
       CASE WHEN NOT no_store AND NOT no_cache AND age <= ttl
            THEN 'none' ELSE v END AS validator
FROM d
"""


# --- X140: crawl-depth BFS labeling -------------------------------------------


def q_crawl_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X140: min link distance from the seed set, bounded at 6 hops
    (operators/graph.py::bfs_depths — delta BFS, frontier-only joins).
    Pages p0..p999 form a 10-layer DAG: p{n} (layer n div 100) links
    forward to layer+1 at slot (7e + e div 1000) mod 100, and every
    17th event contributes a BACK edge to layer-1 instead (the cycles
    a bounded walk must not loop on). Seeds are p0..p9, so depth ==
    layer for reachable pages and layers 7-9 fall outside the horizon.
    The oracle replays the identical bounded walk as a recursive CTE
    taking min(depth)."""
    from .operators.graph import bfs_depths

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    src_n = eid % 1000
    layer = F.expr("(event_id % 1000) div 100")
    fwd = (layer + 1) * 100 + (eid * 7 + F.expr("event_id div 1000")) % 100
    dst_n = F.when((eid % 17 == 0) & (layer >= 1), src_n - 100).otherwise(
        F.when(layer < 9, fwd)
    )
    edges = e.select(
        F.concat(F.lit("p"), src_n.cast("string")).alias("src"),
        F.concat(F.lit("p"), dst_n.cast("string")).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    seeds = e.filter(src_n < 10).select(
        F.concat(F.lit("p"), src_n.cast("string")).alias("node")
    )
    return bfs_depths(edges, seeds, max_hops=6)


SQL_CRAWL_DEPTHS = """
WITH RECURSIVE e AS (
  SELECT 'p' || src_n::VARCHAR AS src, 'p' || dst_n::VARCHAR AS dst
  FROM (
    SELECT event_id % 1000 AS src_n,
           CASE WHEN event_id % 17 = 0 AND (event_id % 1000) // 100 >= 1
                THEN (event_id % 1000) - 100
                WHEN (event_id % 1000) // 100 < 9
                THEN ((event_id % 1000) // 100 + 1) * 100
                     + (event_id * 7 + event_id // 1000) % 100
                ELSE NULL END AS dst_n
    FROM events
  ) WHERE dst_n IS NOT NULL
), seeds AS (
  SELECT DISTINCT 'p' || (event_id % 1000)::VARCHAR AS node
  FROM events WHERE event_id % 1000 < 10
), walk(node, depth) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.dst, w.depth + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.depth < 6
)
SELECT node, min(depth)::BIGINT AS depth FROM walk GROUP BY node
"""


# --- X141: per-host EWMA latency alarm ----------------------------------------


def q_latency_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X141: EWMA residual control chart per host
    (operators/temporal.py::ewma_alarm — closed-form power-of-two
    decay, exact integers). The per-(host, round) latency series is
    the cell count of events (hosts h{e mod 30}, rounds (e div 30)
    mod 8 — cells land at 41-42 rows, a flat series), except host h0's
    final round is inflated 10× — the jump the alarm must flag while
    every other host's ±2% wobble stays far under the 500-milli
    threshold."""
    from .operators.temporal import ewma_alarm

    e = _t(spark, sf_dir, "events")
    h = (F.col("event_id") % 30).alias("h")
    r = (F.expr("event_id div 30") % 8).alias("round")
    series = (
        e.select(h, r)
        .groupBy("h", "round")
        .agg(F.count("*").alias("_n"))
        .select(
            F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
            "round",
            F.when((F.col("h") == 0) & (F.col("round") == 7), F.col("_n") * 10)
            .otherwise(F.col("_n"))
            .alias("latency_ms"),
        )
    )
    return ewma_alarm(
        series, group_col="host", time_col="round", value_col="latency_ms",
        window=8, threshold_milli=500,
    )


SQL_LATENCY_ALARM = """
WITH c AS (
  SELECT event_id % 30 AS h, (event_id // 30) % 8 AS round,
         count(*) AS n0
  FROM events GROUP BY 1, 2
), series AS (
  SELECT 'h' || h::VARCHAR AS host, round,
         CASE WHEN h = 0 AND round = 7 THEN n0 * 10 ELSE n0 END AS x
  FROM c
), latest AS (
  SELECT host, max(round) AS R FROM series GROUP BY host
), agg AS (
  SELECT s.host, max(l.R) AS round,
         sum(CASE WHEN s.round = l.R THEN s.x ELSE 0 END)::BIGINT AS value,
         sum(CASE WHEN s.round < l.R AND s.round > l.R - 8
                  THEN s.x * (1::BIGINT << (s.round - (l.R - 8) - 1)::INT)
                  ELSE 0 END)::BIGINT AS ewma_num,
         sum(CASE WHEN s.round < l.R AND s.round > l.R - 8
                  THEN (1::BIGINT << (s.round - (l.R - 8) - 1)::INT)
                  ELSE 0 END)::BIGINT AS ewma_den
  FROM series s JOIN latest l USING (host)
  GROUP BY s.host
), dev AS (
  SELECT *,
         CASE WHEN ewma_den = 0 THEN NULL
              WHEN ewma_num = 0 AND value = 0 THEN 0
              WHEN ewma_num = 0 THEN 1000000
              ELSE (1000 * abs(value * ewma_den - ewma_num)) // ewma_num
         END AS dev_milli
  FROM agg
)
SELECT host, round, value, ewma_num, ewma_den, dev_milli::BIGINT AS dev_milli,
       coalesce(dev_milli > 500, FALSE) AS alarm
FROM dev
"""


# --- X144: IP co-hosting politeness caps --------------------------------------


def q_ip_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X144: shared-infrastructure rate limiting (frontier/
    politeness.py::ip_cohost_caps). Hosts h0-h59 (demand = event count,
    ~167 each); h0-h35 co-host in triples on ip0-ip11 (cluster demand
    ~500 > the 300 cap — largest-remainder split, grants sum to the cap
    exactly) while h36-h59 sit on their own IPs under cap and pass
    through untouched."""
    from .frontier.politeness import ip_cohost_caps

    e = _t(spark, sf_dir, "events")
    h = (F.col("event_id") % 60).alias("h")
    demand = (
        e.select(h)
        .groupBy("h")
        .agg(F.count("*").alias("demand"))
        .select(
            F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
            F.when(
                F.col("h") < 36,
                F.concat(F.lit("ip"), F.expr("h div 3").cast("string")),
            )
            .otherwise(
                F.concat(F.lit("ip"), (F.col("h") + 100).cast("string"))
            )
            .alias("ip"),
            "demand",
        )
    )
    return ip_cohost_caps(
        demand, per_ip_cap=300, cohost_min=3
    )


SQL_IP_CAPS = """
WITH d AS (
  SELECT event_id % 60 AS h, count(*) AS demand
  FROM events GROUP BY 1
), hosts AS (
  SELECT 'h' || h::VARCHAR AS host,
         CASE WHEN h < 36 THEN 'ip' || (h // 3)::VARCHAR
              ELSE 'ip' || (h + 100)::VARCHAR END AS ip,
         demand
  FROM d
), t AS (
  SELECT host, ip, demand,
         sum(demand) OVER (PARTITION BY ip) AS D,
         count(*) OVER (PARTITION BY ip) AS n_cohosts,
         CASE WHEN sum(demand) OVER (PARTITION BY ip) = 0 THEN 0
              ELSE (300 * demand) // sum(demand) OVER (PARTITION BY ip)
         END AS base,
         CASE WHEN sum(demand) OVER (PARTITION BY ip) = 0 THEN 0
              ELSE (300 * demand) % sum(demand) OVER (PARTITION BY ip)
         END AS rem
  FROM hosts
), r AS (
  SELECT *,
         300 - sum(base) OVER (PARTITION BY ip) AS deficit,
         row_number() OVER (PARTITION BY ip ORDER BY rem DESC, host) AS rk
  FROM t
)
SELECT host, ip, demand::BIGINT AS demand, n_cohosts::BIGINT AS n_cohosts,
       (CASE WHEN D <= 300 THEN demand
             ELSE base + (CASE WHEN rk <= deficit THEN 1 ELSE 0 END)
        END)::BIGINT AS granted,
       (n_cohosts >= 3) AS co_hosted,
       (CASE WHEN demand = 0 THEN 1000
             ELSE (1000 * (CASE WHEN D <= 300 THEN demand
                   ELSE base + (CASE WHEN rk <= deficit THEN 1 ELSE 0 END)
                   END)) // demand END)::BIGINT AS throttle_milli
FROM r
"""


# --- X147: HRW fleet-growth movement audit ------------------------------------


def q_hrw_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X147: consistent-placement stability measured as data
    (frontier/politeness.py::hrw_movement_audit). 400 hosts, fleet
    grows 10 → 12 fetchers: per old shard, the exact moved-out count —
    expected ≈ 2/12 ≈ 167 milli overall, and every move lands on a NEW
    shard (HRW prefix identity). Portable hash so the oracle replays
    every score."""
    from .frontier.politeness import hrw_movement_audit

    e = _t(spark, sf_dir, "events")
    hosts = e.select(
        F.concat(F.lit("h"), (F.col("event_id") % 400).cast("string")).alias(
            "host"
        )
    ).distinct()
    return hrw_movement_audit(
        hosts, n_shards=10, n_shards_after=12, portable=True
    )


SQL_HRW_MOVEMENT = """
WITH hosts AS (
  SELECT DISTINCT 'h' || (event_id % 400)::VARCHAR AS host FROM events
), sc AS (
  SELECT host,
         list_transform(generate_series(0, 9),
           k -> ('0x' || substr(md5(host || ':' || k::VARCHAR), 1, 15))::BIGINT)
           AS s10,
         list_transform(generate_series(0, 11),
           k -> ('0x' || substr(md5(host || ':' || k::VARCHAR), 1, 15))::BIGINT)
           AS s12
  FROM hosts
), a AS (
  SELECT host,
         (list_position(s10, list_max(s10)) - 1)::BIGINT AS shard_old,
         (list_position(s12, list_max(s12)) - 1)::BIGINT AS shard_new
  FROM sc
)
SELECT shard_old, count(*)::BIGINT AS n_hosts,
       sum(CASE WHEN shard_new <> shard_old THEN 1 ELSE 0 END)::BIGINT
         AS moved_out,
       ((1000 * sum(CASE WHEN shard_new <> shard_old THEN 1 ELSE 0 END))
        // count(*))::BIGINT AS moved_milli
FROM a GROUP BY shard_old
"""


# --- X151: anti-starvation priority aging -------------------------------------


def q_priority_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X151: the starvation census under aging (frontier/politeness.py::
    priority_aging). Frontier URLs carry base priority event_id mod 5
    and creation round event_id div 2500 (0-3); at current round 4 with
    a boost every 2 rounds waited, the oldest quartile has aged +2 —
    per class: max wait, starved count (>=3 rounds), boosted count."""
    from .frontier.politeness import priority_aging

    e = _t(spark, sf_dir, "events")
    frontier = e.select(
        (F.col("event_id") % 5).alias("priority"),
        F.expr("event_id div 2500").alias("created_round"),
    )
    return priority_aging(
        frontier, current_round=4, boost_every=2, starve_rounds=3
    )


SQL_PRIORITY_AGING = """
WITH f AS (
  SELECT event_id % 5 AS base_priority,
         4 - (event_id // 2500) AS w
  FROM events
)
SELECT base_priority, count(*)::BIGINT AS n_urls,
       max(w)::BIGINT AS max_wait,
       sum(CASE WHEN w >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_starved,
       sum(CASE WHEN w // 2 > 0 THEN 1 ELSE 0 END)::BIGINT AS n_boosted
FROM f GROUP BY base_priority
"""


# --- X154: site-section treemap rollup ----------------------------------------


def q_path_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X154: directory-prefix census (frontier/canon.py::
    path_section_rollup). Pages live at /s{e mod 4}/c{e mod 12}/p{e}
    .html — four top sections, three subdirs each (c ≡ s mod 4), so
    /sX rows carry subtree counts with zero directs and /sX/cY rows
    are all-direct. Every tenth event also adds a root-level page
    /p{e}.html, which has no directory and must add no row."""
    from .frontier.canon import path_section_rollup

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    page = F.concat(F.lit("/p"), eid.cast("string"), F.lit(".html"))
    path = F.concat(
        F.lit("/s"), (eid % 4).cast("string"),
        F.lit("/c"), (eid % 12).cast("string"), page,
    )
    pages = e.select(path.alias("path")).unionByName(
        e.filter(eid % 10 == 0).select(page.alias("path"))
    )
    return path_section_rollup(pages)


# root-level pages (/p{e}.html for e % 10 = 0) have no directory
# prefix, so they contribute no rows_ entry
SQL_PATH_ROLLUP = """
WITH p AS (
  SELECT '/s' || (event_id % 4)::VARCHAR AS s1,
         '/s' || (event_id % 4)::VARCHAR || '/c' || (event_id % 12)::VARCHAR
           AS s2
  FROM events
), rows_ AS (
  SELECT s1 AS prefix, 1::BIGINT AS depth, FALSE AS direct FROM p
  UNION ALL
  SELECT s2 AS prefix, 2::BIGINT AS depth, TRUE AS direct FROM p
)
SELECT prefix, depth, count(*)::BIGINT AS n_subtree,
       sum(CASE WHEN direct THEN 1 ELSE 0 END)::BIGINT AS n_direct
FROM rows_ GROUP BY prefix, depth
"""


# --- X155: robots-change seen-revocation feed ---------------------------------


def q_robots_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X155: the robots-change revocation feed
    (frontier/recrawl.py::robots_revocation_feed). Hosts h0-h19 carry a per-host rule line;
    h3's rules genuinely change at round 3 (one detected pair, 2 -> 3,
    sized at its frontier URL count) while h5 only gains whitespace
    noise at round 2 — the normalized fingerprint must NOT fire."""
    from .frontier.recrawl import robots_revocation_feed

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    h = eid % 20
    r = F.expr("event_id div 20") % 5
    log = (
        e.select(h.alias("h"), r.alias("round"))
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
            "round",
            F.concat(
                F.lit("User-agent: * Disallow: /private"),
                F.when(
                    (F.col("h") == 3) & (F.col("round") >= 3),
                    F.lit(" Disallow: /new-section"),
                ).otherwise(F.lit("")),
                F.when(
                    (F.col("h") == 5) & (F.col("round") >= 2),
                    F.lit("   "),
                ).otherwise(F.lit("")),
            ).alias("rules_text"),
        )
    )
    frontier = e.select(
        F.concat(F.lit("h"), (eid % 20).cast("string")).alias("host")
    )
    return robots_revocation_feed(log, frontier)


SQL_ROBOTS_DRIFT = """
WITH log AS (
  SELECT DISTINCT 'h' || (event_id % 20)::VARCHAR AS host,
         (event_id // 20) % 5 AS round,
         event_id % 20 AS h
  FROM events
), fp AS (
  SELECT host, round,
         md5(trim(regexp_replace(
           'User-agent: * Disallow: /private'
           || CASE WHEN h = 3 AND round >= 3
                   THEN ' Disallow: /new-section' ELSE '' END
           || CASE WHEN h = 5 AND round >= 2 THEN '   ' ELSE '' END,
           '\\s+', ' ', 'g'))) AS f
  FROM log
), changed AS (
  SELECT a.host, a.round AS round_from, b.round AS round_to
  FROM fp a JOIN fp b ON a.host = b.host AND b.round = a.round + 1
  WHERE a.f <> b.f
), cnt AS (
  SELECT 'h' || (event_id % 20)::VARCHAR AS host, count(*) AS n
  FROM events GROUP BY 1
)
SELECT c.host, c.round_from, c.round_to,
       coalesce(n, 0)::BIGINT AS n_urls_to_revoke
FROM changed c LEFT JOIN cnt USING (host)
"""


# --- X160: homograph / typosquat skeleton collisions --------------------------


def q_homograph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X160: lookalike-domain screen (frontier/canon.py::
    homograph_skeletons). Legit hosts mail{k}.example (k = e mod 50);
    every 97th event contributes the digit-for-letter typosquat
    mai1{k}.example, which collapses onto the same confusable skeleton
    — both members of each colliding skeleton surface, non-canonical
    ones flagged."""
    from .frontier.canon import homograph_skeletons

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    host = F.when(
        eid % 97 == 0,
        F.concat(F.lit("mai1"), (eid % 50).cast("string"), F.lit(".example")),
    ).otherwise(
        F.concat(F.lit("mail"), (eid % 50).cast("string"), F.lit(".example"))
    )
    return homograph_skeletons(e.select(host.alias("host")))


SQL_HOMOGRAPH = """
WITH hosts AS (
  SELECT DISTINCT CASE WHEN event_id % 97 = 0
              THEN 'mai1' || (event_id % 50)::VARCHAR || '.example'
              ELSE 'mail' || (event_id % 50)::VARCHAR || '.example' END
           AS host
  FROM events
), sk AS (
  SELECT host, translate(lower(host), '013457', 'oleast') AS skeleton
  FROM hosts
), g AS (
  SELECT skeleton, count(*) AS n_variants, min(host) AS canonical_host
  FROM sk GROUP BY skeleton
)
SELECT s.host, s.skeleton, g.n_variants::BIGINT AS n_variants,
       g.canonical_host,
       (g.n_variants > 1 AND s.host <> g.canonical_host) AS is_suspect
FROM sk s JOIN g USING (skeleton)
"""
