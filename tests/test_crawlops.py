"""X72–X78 crawl-operations semantics: recrawl clamps, MERGE outcomes,
trap flags, histogram-sketch mergeability + quantile error bound, and
the no-partition-less-window / no-row-Python plan guardrails."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _ts(h):
    return dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)


# --- X72 recrawl ------------------------------------------------------------


def test_recrawl_clamps_and_next_fetch(spark):
    from oa_spider_spark.frontier.recrawl import recrawl_schedule

    visits = spark.createDataFrame(
        # url 1: changes every visit → rate 1000 → 24h (no clamp)
        [(1, _ts(i), 1) for i in range(4)]
        # url 2: never changes → rate 0 → floor 125 → 192h → max clamp 168
        + [(2, _ts(i), 0) for i in range(4)]
        # url 3: 1/4 changes → rate 250 → 96h
        + [(3, _ts(i), 1 if i == 0 else 0) for i in range(4)],
        "url_id long, ts timestamp, changed long",
    )
    out = {r["url_id"]: r for r in recrawl_schedule(visits).collect()}
    assert out[1]["interval_hours"] == 24
    assert out[2]["interval_hours"] == 168
    assert out[3]["interval_hours"] == 96
    # min clamp binds when the base interval is tiny
    tight = {
        r["url_id"]: r
        for r in recrawl_schedule(visits, base_hours=4).collect()
    }
    assert tight[1]["interval_hours"] == 6
    # next_fetch = last visit + interval, in epoch-µs
    last_us = int(_ts(3).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert out[1]["next_fetch_us"] == last_us + 24 * 3_600_000_000


# --- X73 merge upsert --------------------------------------------------------


def test_merge_upsert_all_four_outcomes(spark):
    from oa_spider_spark.operators.temporal import merge_upsert

    base = spark.createDataFrame(
        [(1, "b1", 5), (2, "b2", 5), (3, "b3", 5), (4, "b4", 5)],
        "k long, v string, version long",
    )
    delta = spark.createDataFrame(
        [(1, "d1", 6), (2, "d2", 5), (3, "d3", 4), (9, "d9", 1)],
        "k long, v string, version long",
    )
    out = {r["k"]: r for r in merge_upsert(base, delta, ["k"], "version").collect()}
    assert out[1]["v"] == "d1" and out[1]["from_delta"]  # delta newer
    assert out[2]["v"] == "d2" and out[2]["from_delta"]  # tie → delta
    assert out[3]["v"] == "b3" and not out[3]["from_delta"]  # delta stale
    assert out[4]["v"] == "b4"  # base passthrough
    assert out[9]["v"] == "d9" and out[9]["from_delta"]  # insert
    assert len(out) == 5


def test_merge_upsert_dedups_multi_row_delta(spark):
    from oa_spider_spark.operators.temporal import merge_upsert

    base = spark.createDataFrame([(1, "b", 0)], "k long, v string, version long")
    delta = spark.createDataFrame(
        [(1, "mid", 3), (1, "new", 7)], "k long, v string, version long"
    )
    rows = merge_upsert(base, delta, ["k"], "version").collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"


def test_merge_upsert_rejects_schema_mismatch(spark):
    from oa_spider_spark.operators.temporal import merge_upsert

    base = spark.createDataFrame([(1, 0)], "k long, version long")
    delta = spark.createDataFrame([(1, 0, "x")], "k long, version long, v string")
    with pytest.raises(ValueError):
        merge_upsert(base, delta, ["k"], "version")


# --- X74 crawl traps ---------------------------------------------------------


def test_crawl_trap_flags(spark):
    from oa_spider_spark.frontier.recrawl import crawl_trap_stats

    urls = spark.createDataFrame(
        [("trap.org", f"/cal/{i}") for i in range(200)]
        + [("ok.org", f"/page/{c}") for c in "abcdefghij"],
        "host string, path string",
    )
    out = {r["host"]: r for r in crawl_trap_stats(urls).collect()}
    assert out["trap.org"]["is_trap"] and out["trap.org"]["n_templates"] == 1
    assert out["trap.org"]["amplification_milli"] == 200_000
    assert not out["ok.org"]["is_trap"] and out["ok.org"]["n_templates"] == 10
    assert out["ok.org"]["amplification_milli"] == 1000


# --- X75 histogram quantiles ---------------------------------------------------


def test_histogram_sketch_merges(spark):
    """Union of two half-corpus sketches, re-aggregated, equals the
    whole-corpus sketch — the property that lets rounds/partitions
    combine without ever re-reading raw data."""
    from oa_spider_spark.operators.sketch import histogram_sketch

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = histogram_sketch(docs.filter(F.col("doc_id") % 2 == 0), ["lang"], "n_chars")
    b = histogram_sketch(docs.filter(F.col("doc_id") % 2 == 1), ["lang"], "n_chars")
    merged = (
        a.unionByName(b)
        .groupBy("lang", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = histogram_sketch(docs, ["lang"], "n_chars")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_histogram_quantile_error_bound(spark):
    """estimate is an inclusive upper bound within one bucket width of
    the exact quantile (same ceil-rank definition both sides)."""
    from oa_spider_spark.operators.sketch import histogram_quantiles, histogram_sketch

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    width = 64
    sk = histogram_sketch(docs, ["lang"], "n_chars", width=width)
    est = {
        (r["lang"], r["permille"]): r["estimate"]
        for r in histogram_quantiles(sk, ["lang"], (500, 950, 990), width).collect()
    }
    vals = {}
    for r in docs.select("lang", "n_chars").collect():
        vals.setdefault(r["lang"], []).append(r["n_chars"])
    for lang, xs in vals.items():
        xs.sort()
        for p in (500, 950, 990):
            exact = xs[-(-p * len(xs) // 1000) - 1]  # ceil-rank, 1-indexed
            e = est[(lang, p)]
            assert exact <= e < exact + width, (lang, p, exact, e)


def test_crawlops_plans_are_keyed_and_jvm_only(spark):
    """No partition-less window and no row-Python in any X72–X78 plan.
    q_heavy_hitters is exempt from the SinglePartition check only: its
    total-count stat frame is the repo's documented 1-row crossJoin
    pattern (the data path stays keyed)."""
    for name in (
        "q_recrawl_schedule",
        "q_merge_upsert",
        "q_crawl_traps",
        "q_hist_quantiles",
        "q_snapshot_diff",
        "q_pack_bins",
        "q_heavy_hitters",
    ):
        df = entry_mod.queries()[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, f"{marker} in {name}"
        if name != "q_heavy_hitters":
            assert "SinglePartition" not in plan, f"partition-less window in {name}"


# --- X76 heavy hitters ---------------------------------------------------------


def test_heavy_hitters_exact_vs_bruteforce(spark):
    from oa_spider_spark.operators.sketch import heavy_hitters

    rows = [("hot%d" % (i % 3),) for i in range(600)] + [
        ("tail%d" % i,) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k string")
    out = {r["k"]: (r["cnt"], r["share_milli"]) for r in heavy_hitters(df, "k", k=10).collect()}
    # exact semantics: count*10 > 1000 ⇒ only the three hot keys (200 each)
    assert set(out) == {"hot0", "hot1", "hot2"}
    assert all(c == 200 and s == 200 for c, s in out.values())


def test_heavy_hitters_tail_key_never_leaks(spark):
    """CMS collisions may promote a tail key to candidate; the exact
    confirm pass must drop it."""
    from oa_spider_spark.operators.sketch import heavy_hitters

    rows = [("big",)] * 502 + [("small%d" % i,) for i in range(498)]
    df = spark.createDataFrame(rows, "k string")
    out = heavy_hitters(df, "k", k=2).collect()
    # strict > n/k: 502*2 > 1000; no tail key (1*2 > 1000 is false) may
    # survive even when a CMS collision promoted it to candidate
    assert [r["k"] for r in out] == ["big"] and out[0]["cnt"] == 502


# --- X77 snapshot diff -----------------------------------------------------------


def test_snapshot_diff_statuses(spark):
    from oa_spider_spark.frontier.recrawl import snapshot_diff

    prev = spark.createDataFrame(
        [(1, 11), (2, 22), (3, 33)], "url_hash long, fp long"
    )
    curr = spark.createDataFrame(
        [(2, 22), (3, 99), (4, 44)], "url_hash long, fp long"
    )
    out = {r["url_hash"]: r["status"] for r in snapshot_diff(prev, curr).collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


# --- X78 pack bins ----------------------------------------------------------------


def test_pack_bins_assignment_and_straddle(spark):
    from oa_spider_spark.operators.pipeline import pack_bins

    df = spark.createDataFrame(
        [("a", 1, 4), ("a", 2, 4), ("a", 3, 4), ("a", 4, 8), ("a", 5, 12), ("b", 1, 9)],
        "g string, i long, sz long",
    )
    out = {(r["g"], r["i"]): r["bin_id"] for r in pack_bins(df, ["g"], "i", "sz", 10).collect()}
    # starts: a → 0,4,8,12,20 ⇒ bins 0,0,0,1,2; b independent stream
    assert out == {("a", 1): 0, ("a", 2): 0, ("a", 3): 0, ("a", 4): 1, ("a", 5): 2, ("b", 1): 0}


# --- X79/X80 canon + robots surfaces ------------------------------------------


def test_url_canon_rules(spark):
    from oa_spider_spark.frontier.canon import canonicalize_url

    df = spark.createDataFrame(
        [
            ("HTTP://Ex.COM:80/a/B?z=1&a=2#frag",),
            ("https://ex.com:443/",),
            ("http://ex.com:8080/p?q=",),
            ("http://ex.com",),
        ],
        "url string",
    )
    out = [r[0] for r in df.select(canonicalize_url("url")).collect()]
    assert out == [
        "http://ex.com/a/B?a=2&z=1",  # port dropped, host lowered, params sorted, frag stripped
        "https://ex.com/",            # default https port dropped
        "http://ex.com:8080/p?q=",    # non-default port kept
        "http://ex.com/",             # bare host gains the root path
    ]


def test_robots_gate_budget_cap_binds(spark):
    """hostnum%12==8 hosts carry base 5000 AND delay 500 — the
    ROUND_PERIOD_MS/delay cap (2400) must replace the base."""
    import __spark_entry__ as em

    rows = em.queries()["q_robots_gate"](spark, SF_DIR).collect()
    budgets = {r["host"]: r["budget_per_round"] for r in rows}
    assert budgets["h008.example.org"] == 2400  # 8%3==2 → base 5000, 8%4==0 → capped
    assert budgets["h005.example.org"] == 5000  # 5%3==2, no delay → base kept
    assert budgets["h000.example.org"] == 10    # capped branch, base 10 < 2400
    # disallow prefixes: no /word/view path survives anywhere; /mail/ only on hn%5!=0
    assert not [r for r in rows if "/word/view" in r["url_canon"]]
    assert not [r for r in rows if "/mail/" in r["url_canon"] and r["host"] == "h005.example.org"]


# --- X88 redirect chains ------------------------------------------------------


def test_redirect_chains_hand_graph(spark):
    """Pointer doubling vs a hand walk: exact hop counts on chains,
    saturation at max_hops on cycles and over-budget chains, terminal
    fixed points, and repartition invariance."""
    from oa_spider_spark.operators.graph import resolve_pointer_chains

    # 1→2→3→0 (terminal, 0 has no edge); 10↔11 (2-cycle);
    # 20→21→...→30 (length 10 > max_hops=8 budget); 40→0 (direct)
    edges = (
        [(1, 2), (2, 3), (3, 0)]
        + [(10, 11), (11, 10)]
        + [(20 + i, 21 + i) for i in range(10)]
        + [(40, 0)]
    )
    df = spark.createDataFrame(edges, ["src", "dst"])

    def walk(n, emap, budget=8):
        hops, cur = 0, n
        while cur in emap and hops < budget:
            cur = emap[cur]
            hops += 1
        return (cur, hops, 0 if cur in emap else 1)

    emap = dict(edges)
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    expect = {n: walk(n, emap) for n in nodes}
    for parts in (1, 5):
        got = {
            r["node"]: (r["final_node"], r["hops"], r["resolved"])
            for r in resolve_pointer_chains(
                df.repartition(parts), max_hops=8
            ).collect()
        }
        assert got == expect
    # edge semantics actually exercised:
    assert expect[1] == (0, 3, 1)       # exact chain hops
    assert expect[10] == (10, 8, 0)     # 2-cycle saturates even-parity
    assert expect[20] == (28, 8, 0)     # over-budget chain truncated
    assert expect[0] == (0, 0, 1)       # terminal fixed point


def test_redirect_chains_rejects_non_power_of_two(spark):
    from oa_spider_spark.operators.graph import resolve_pointer_chains

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError):
        resolve_pointer_chains(df, max_hops=6)


# --- X91 robots.txt parser ----------------------------------------------------


def test_parse_robots_txt_group_semantics(spark):
    """Hand fixture pinning the RFC 9309 edges: orphan rules dropped,
    consecutive UA lines share a group, a recognized non-UA directive
    splits a later UA run, exact agent match shadows '*', inline
    comments/case/whitespace normalized, empty values dropped."""
    from oa_spider_spark.frontier.politeness import parse_robots_txt

    wildcard_only = "\n".join(
        [
            "Disallow: /orphan",  # before any UA → dropped
            "User-Agent: *",
            "Sitemap: http://x/s.xml",  # splits the header run, not the group
            "Disallow: /a # comment",
            "",
            "disallow:   /b  ",
            "Allow:",  # empty value → dropped
            "allow: /a/ok",
        ]
    )
    exact_shadows = "\n".join(
        [
            "User-agent: *",
            "Disallow: /w",
            "User-agent: OA-SPIDER",  # case-insensitive exact match
            "User-agent: legacy-bot",  # consecutive UA → same group
            "Disallow: /p",
            "Crawl-delay: 2",  # recognized → next UA starts a NEW group
            "User-agent: other",
            "Disallow: /q",
        ]
    )
    no_match = "User-agent: other\nDisallow: /z"
    df = spark.createDataFrame(
        [("h1", wildcard_only), ("h2", exact_shadows), ("h3", no_match)],
        "host string, robots_txt string",
    )
    got = {
        (r.host, r.rule, r.prefix)
        for r in parse_robots_txt(df, agent="oa-spider").collect()
    }
    assert got == {
        ("h1", "disallow", "/a"),
        ("h1", "disallow", "/b"),
        ("h1", "allow", "/a/ok"),
        ("h2", "disallow", "/p"),
    }


# --- X92 sitemap parser / X93 mirror hosts -------------------------------------


def test_parse_sitemaps_grammar(spark):
    """Hand fixture: entity decode in <loc>, commented-out entries
    dropped, loc-less entries dropped, multi-line blocks, priority
    quantized to exact milli, sitemapindex rows kind='sitemap'."""
    from oa_spider_spark.frontier.sitemap import parse_sitemaps

    urlset = "\n".join(
        [
            "<urlset>",
            "  <url><loc> http://h1/a?x=1&amp;y=2 </loc>"
            "<lastmod>2025-01-02</lastmod><priority>0.25</priority></url>",
            "  <!-- <url><loc>http://h1/commented</loc></url> -->",
            "  <url><priority>0.9</priority></url>",
            "  <url>",
            "    <loc>http://h1/b</loc>",
            "    <changefreq>weekly</changefreq>",
            "  </url>",
            "</urlset>",
        ]
    )
    index = (
        "<sitemapindex><sitemap><loc>http://h2/s1.xml</loc>"
        "<lastmod>2025-03-04</lastmod></sitemap></sitemapindex>"
    )
    df = spark.createDataFrame(
        [("h1", urlset), ("h2", index)], "host string, sitemap_xml string"
    )
    got = {
        (r.host, r.kind, r.loc, r.lastmod, r.changefreq, r.priority_milli)
        for r in parse_sitemaps(df).collect()
    }
    assert got == {
        ("h1", "url", "http://h1/a?x=1&y=2", "2025-01-02", None, 250),
        ("h1", "url", "http://h1/b", None, "weekly", None),
        ("h2", "sitemap", "http://h2/s1.xml", "2025-03-04", None, None),
    }


def test_mirror_host_pairs_cap_and_jaccard(spark):
    """The hot fingerprint (on 3 hosts, cap=2) drops out of `shared`
    but stays in the per-host sizes; Jaccard is exact floor milli."""
    from oa_spider_spark.operators.dedup import mirror_host_pairs

    rows = [
        ("a", 1), ("a", 2), ("a", 9),
        ("b", 1), ("b", 2), ("b", 8),
        ("c", 9),
        # fp 7 is on all three hosts -> capped out of the join
        ("a", 7), ("b", 7), ("c", 7),
    ]
    df = spark.createDataFrame(rows, "host string, fp long")
    got = {
        (r.host_a, r.host_b, r.shared, r.n_a, r.n_b, r.jaccard_milli)
        for r in mirror_host_pairs(df, min_shared=1, cap=2).collect()
    }
    # a: {1,2,9,7} n=4; b: {1,2,8,7} n=4; c: {9,7} n=2
    # shared(a,b) = {1,2} = 2 (7 capped); jaccard = 2000 div 6 = 333
    # shared(a,c) = {9} = 1; jaccard = 1000 div 5 = 200
    assert got == {
        ("a", "b", 2, 4, 4, 333),
        ("a", "c", 1, 4, 2, 200),
    }


# --- X96 spurious-param inference -----------------------------------------


def test_infer_spurious_params_verdicts(spark):
    """sid never changes content (spurious), q always does (semantic),
    and a single content change vetoes the mixed param; residual
    grouping isolates exactly one varying param per group."""
    from oa_spider_spark.frontier.canon import infer_spurious_params

    rows = []
    # host a: /x?q=Q&sid=S — fp depends only on q
    for q in (0, 1):
        for s in (0, 1, 2):
            rows.append((f"http://a/x?q={q}&sid={s}", 10 + q))
    # host a: mixed param m on a second path: fp changes for ONE value
    for m in (0, 1, 2):
        rows.append((f"http://a/y?m={m}", 99 if m == 2 else 50))
    df = spark.createDataFrame(rows, "url string, fp long")
    got = {
        (r.host, r.param): (
            r.groups_tested, r.groups_invariant, r.spurious_milli, r.spurious
        )
        for r in infer_spurious_params(df, min_groups=2, min_spurious_milli=900).collect()
    }
    # sid: 2 residual groups (q=0, q=1), both invariant -> spurious
    assert got[("a", "sid")] == (2, 2, 1000, True)
    # q: 3 residual groups (sid=0,1,2), all variant -> semantic
    assert got[("a", "q")] == (3, 0, 0, False)
    # m: 1 tested group, fp changed -> variant, not spurious
    assert got[("a", "m")] == (1, 0, 0, False)


# --- X97 revalidation planner ------------------------------------------------


def test_revalidation_plan_decision_lattice(spark):
    """Precedence pinned by hand: no-store beats a fresh max-age;
    no-cache forces revalidation inside the TTL; ETag beats
    Last-Modified; heuristic TTL is 10% of (fetched - Last-Modified);
    stale with no validator refetches; empty ETag is absent."""
    from oa_spider_spark.frontier.recrawl import revalidation_plan

    now = 2_000_000
    rows = [
        # url, fetched_ms, cache_control, etag, last_modified_ms
        ("fresh",      1_900_000, "max-age=200",  None, None),        # age 100k <= 200k
        ("expired",    1_000_000, "max-age=500",  '"e"', None),       # age 1M > 500k
        ("nostore",    1_900_000, "no-store, max-age=999999", '"e"', None),
        ("nocache",    1_900_000, "no-cache, max-age=999999", None, 1_800_000),
        ("heuristic",  1_990_000, None,           None, 1_890_000),   # ttl 10k, age 10k
        ("heur_stale", 1_900_000, None,           None, 1_899_000),   # ttl 100, age 100k
        ("bare",       1_900_000, None,           None, None),
        ("empty_etag", 1_000_000, "max-age=1",    "",   None),
    ]
    df = spark.createDataFrame(
        rows, "url string, fetched_ms long, cache_control string, "
              "etag string, last_modified_ms long"
    )
    got = {
        r.url: (r.action, r.validator, r.ttl_ms, r.stale_ms)
        for r in revalidation_plan(df, now_ms=now, heuristic_ttl_milli=100).collect()
    }
    assert got["fresh"] == ("fresh", "none", 200_000, 0)
    assert got["expired"] == ("revalidate", "etag", 500_000, 500_000)
    assert got["nostore"][0] == "refetch"
    assert got["nocache"] == ("revalidate", "last-modified", 999_999_000, 0)
    assert got["heuristic"] == ("fresh", "none", 10_000, 0)
    assert got["heur_stale"] == ("revalidate", "last-modified", 100, 99_900)
    assert got["bare"] == ("refetch", "none", 0, 100_000)
    assert got["empty_etag"] == ("refetch", "none", 1_000, 999_000)


def test_bitext_url_pairs_key_and_ratio(spark):
    """Hand fixture: same-host lang-segment pairing, decoy without a
    language segment, cross-host non-pairing, length-ratio rejection."""
    from oa_spider_spark.frontier.canon import bitext_url_pairs

    rows = [
        ("http://a.org/en/x/1", 100),
        ("http://a.org/fr/x/1", 90),    # pairs, ratio 900
        ("http://a.org/de/x/1", 40),    # pairs but ratio 400 < 600
        ("http://b.org/fr/x/1", 100),   # other host: no /en/ twin there
        ("http://a.org/x/1", 100),      # no lang segment: dropped
        ("http://a.org/en", 50),        # bare lang path -> key = host
        ("http://a.org/fr", 50),        # pairs with the bare /en
    ]
    df = spark.createDataFrame(rows, "url string, content_len long")
    got = {
        (r.url_a, r.url_b): (r.lang_b, r.ratio_milli)
        for r in bitext_url_pairs(df, ["en", "fr", "de"]).collect()
    }
    assert got == {
        ("http://a.org/en/x/1", "http://a.org/fr/x/1"): ("fr", 900),
        ("http://a.org/en", "http://a.org/fr"): ("fr", 1000),
    }


# --- X100 rendezvous sharding -------------------------------------------------


def _hosts_df(spark, n=300, n_weights=37):
    return spark.createDataFrame(
        [(f"host-{i}.example.org", (i % n_weights) + 5) for i in range(n)],
        "host string, url_count long",
    )


def test_rendezvous_matches_flat_window(spark):
    """The two-level bucketed admission (scale shape) must be
    indistinguishable from the textbook single flat per-shard running
    sum, in the scale-default xxhash mode."""
    from oa_spider_spark.frontier.politeness import rendezvous_shards

    hosts = _hosts_df(spark)
    cap = 900
    got = {
        r.host: (r.primary_shard, r.assigned_shard, r.spilled)
        for r in rendezvous_shards(hosts, n_shards=8, cap=cap).collect()
    }
    # flat reference: exact scores pulled via the same hash, pandas cumsum
    import pandas as pd

    sc = hosts.select(
        "host",
        "url_count",
        *[
            F.xxhash64(F.concat("host", F.lit(f":{k}"))).alias(f"s{k}")
            for k in range(8)
        ],
    ).toPandas()
    score_cols = [f"s{k}" for k in range(8)]
    rows = []
    for _, r in sc.iterrows():
        scores = [int(r[c]) for c in score_cols]
        order = sorted(range(8), key=lambda k: (-scores[k], k))
        rows.append(
            (r["host"], int(r["url_count"]), order[0], order[1], scores[order[0]])
        )
    ref = pd.DataFrame(rows, columns=["host", "w", "prim", "sec", "best"])
    ref = ref.sort_values(["prim", "best", "host"], ascending=[True, False, True])
    ref["cum"] = ref.groupby("prim")["w"].cumsum()
    ref["assigned"] = ref["prim"].where(ref["cum"] <= cap, ref["sec"])
    want = {
        r.host: (r.prim, r.assigned, int(r.prim != r.assigned))
        for r in ref.itertuples()
    }
    assert got == want
    # both branches exercised by the fixture
    spills = sum(v[2] for v in got.values())
    assert 0 < spills < len(got)


def test_rendezvous_stability_on_shard_add(spark):
    """HRW's point: growing the fleet K -> K+1 moves only the hosts whose
    new shard wins the argmax — about 1/(K+1) of them, never a reshuffle."""
    from oa_spider_spark.frontier.politeness import rendezvous_shards

    hosts = _hosts_df(spark, n=400)
    big_cap = 10**9  # no spill: isolate the primary assignment
    a = {
        r.host: r.assigned_shard
        for r in rendezvous_shards(hosts, n_shards=8, cap=big_cap).collect()
    }
    b = {
        r.host: r.assigned_shard
        for r in rendezvous_shards(hosts, n_shards=9, cap=big_cap).collect()
    }
    moved = sum(1 for h in a if a[h] != b[h])
    # expectation 400/9 ~ 44; anything close to a reshuffle is a bug
    assert moved < 100
    # every moved host moved TO the new shard (pure HRW property)
    assert all(b[h] == 8 for h in a if a[h] != b[h])


def test_fetch_timeline_slots_and_default_delay(spark):
    """X103: slots follow (priority, url) order across coarsened cells
    (bucket_span 4 forces the multi-cell offset path); hosts missing
    from the delays table get the default delay."""
    from oa_spider_spark.frontier.politeness import fetch_timeline

    urls = spark.createDataFrame(
        [
            ("a", "u1", 5), ("a", "u2", 5), ("a", "u3", 3),
            ("a", "u4", 900), ("a", "u5", 900), ("a", "u6", 1),
            ("b", "w1", 7), ("b", "w2", 2),
        ],
        "host string, url string, priority long",
    )
    delays = spark.createDataFrame(
        [("a", 200)], "host string, crawl_delay_ms long"
    )
    got = {
        (r.host, r.url): (r.slot, r.scheduled_ms)
        for r in fetch_timeline(
            urls, delays, default_delay_ms=50, bucket_span=4
        ).collect()
    }
    assert got == {
        ("a", "u6"): (0, 0), ("a", "u3"): (1, 200),
        ("a", "u1"): (2, 400), ("a", "u2"): (3, 600),
        ("a", "u4"): (4, 800), ("a", "u5"): (5, 1000),
        ("b", "w2"): (0, 0), ("b", "w1"): (1, 50),
    }


def test_robots_wildcard_precedence(spark):
    """X104: RFC 9309 matching — longest match wins, allow beats
    disallow on ties, '$' anchors, open '*' spans, default allow."""
    from oa_spider_spark.frontier.politeness import robots_wildcard_decisions

    rules = spark.createDataFrame(
        [
            ("h", "disallow", "/private"),
            ("h", "allow", "/private/ok"),
            ("h", "disallow", "*.php$"),
            ("h", "allow", "/pub*.php$"),
            ("h", "disallow", "/a*b"),
            ("h", "allow", "/t/p"),
            ("h", "disallow", "/t/p"),
        ],
        "host string, rule string, pattern string",
    )
    paths = [
        "/private/x", "/private/ok/1", "/index.php", "/pub1.php",
        "/a/123b", "/a/123bc", "/t/p", "/none", "/pageX.phpx",
    ]
    cand = spark.createDataFrame([("h", p) for p in paths], "host string, path string")
    got = {
        r.path: (r.allowed, r.win_rule, r.win_spec)
        for r in robots_wildcard_decisions(cand, rules).collect()
    }
    assert got == {
        "/private/x": (False, "disallow", 8),
        "/private/ok/1": (True, "allow", 11),
        "/index.php": (False, "disallow", 6),
        "/pub1.php": (True, "allow", 10),     # longer allow beats *.php$
        "/a/123b": (False, "disallow", 4),
        "/a/123bc": (False, "disallow", 4),   # no anchor: match mid-path
        "/t/p": (True, "allow", 4),           # equal length: allow wins
        "/none": (True, "none", -1),
        "/pageX.phpx": (True, "none", -1),    # $ anchor rejects trailing x
    }


def test_host_saturation_streaks(spark):
    """X106: streak counts back from the last round; never-above hosts
    saturate with streak = n_rounds; a late novelty burst resets it."""
    from oa_spider_spark.frontier.recrawl import host_saturation

    rows = [
        # host a: novelty 1000, 500, 100, 0, 0 -> last above at r1, streak 3
        ("a", 0, 10, 10), ("a", 1, 10, 5), ("a", 2, 10, 1),
        ("a", 3, 10, 0), ("a", 4, 10, 0),
        # host b: never above threshold -> streak = n_rounds = 2
        ("b", 0, 10, 1), ("b", 1, 10, 2),
        # host c: burst in the LAST round -> streak 0, not saturated
        ("c", 0, 10, 0), ("c", 1, 10, 0), ("c", 2, 10, 9),
    ]
    v = spark.createDataFrame(
        rows, "host string, round long, fetched long, new_count long"
    )
    got = {
        r.host: (r.n_rounds, r.last_round, r.streak_below, r.saturated)
        for r in host_saturation(v, novelty_threshold_milli=300, k_rounds=3).collect()
    }
    assert got == {
        "a": (5, 4, 3, True),
        "b": (2, 1, 2, False),
        "c": (3, 2, 0, False),
    }


def test_scheme_merge_cases(spark):
    """X110: mergeable only when both schemes exist AND agree on content."""
    from oa_spider_spark.frontier.canon import scheme_merge

    rows = [
        ("h", "/a", "http", "F1"), ("h", "/a", "https", "F1"),   # mergeable
        ("h", "/b", "http", "F2"),                               # http-only
        ("h", "/c", "http", "F3"), ("h", "/c", "https", "F4"),   # cloaked
        ("h", "/d", "https", "F5"),                              # https-only
    ]
    df = spark.createDataFrame(rows, "host string, path string, scheme string, content_fp string")
    got = {
        r.path: (r.n_schemes, r.canonical_scheme, r.mergeable)
        for r in scheme_merge(df).collect()
    }
    assert got == {
        "/a": (2, "https", True),
        "/b": (1, "http", False),
        "/c": (2, "https", False),
        "/d": (1, "https", False),
    }


def test_status_drift_spike(spark):
    """X111: the ok->dead mix shift reads drift 1000 and flags; a
    steady round reads 0."""
    from oa_spider_spark.frontier.recrawl import status_drift

    rows = [
        ("h", 0, "ok", 10),
        ("h", 1, "ok", 5), ("h", 1, "dead", 5),
        ("h", 2, "ok", 5), ("h", 2, "dead", 5),
    ]
    log = spark.createDataFrame(rows, "host string, round long, status string, n long")
    got = {
        (r.round_from, r.round_to): (r.drift_milli, r.flagged)
        for r in status_drift(log, drift_threshold_milli=400).collect()
    }
    assert got == {(0, 1): (1000, True), (1, 2): (0, False)}


def test_adaptive_delay_clamps(spark):
    """X113: p95 bucket upper bound drives the delay; both clamps bind."""
    from oa_spider_spark.frontier.politeness import adaptive_crawl_delay

    rows = (
        [("fast", 10)] * 20            # p95 bucket [0,63] -> 63*2=126 -> min 200
        + [("mid", 900)] * 20          # bucket 14 -> 959*2=1918
        + [("slow", 9000)] * 20        # bucket 140 -> 9023*2=18046 -> max 5000
    )
    log = spark.createDataFrame(rows, "host string, elapsed_ms long")
    got = {
        r.host: (r.p95_ms, r.crawl_delay_ms)
        for r in adaptive_crawl_delay(
            log, factor_milli=2000, min_delay_ms=200, max_delay_ms=5000
        ).collect()
    }
    assert got == {
        "fast": (63, 200),
        "mid": (959, 1918),
        "slow": (9023, 5000),
    }


def test_byte_budget_select_matches_flat_order(spark):
    """X116: the two-level byte admission equals the flat
    (priority DESC, url) running sum, and the cut is exact."""
    from oa_spider_spark.frontier.politeness import byte_budget_select

    rows = [(f"/u/{i}", i % 3, 100 + (i * 7) % 50) for i in range(40)]
    cand = spark.createDataFrame(rows, "url string, priority long, est_bytes long")
    budget = 1500
    got = {
        r.url: (r.cum_bytes, r.selected)
        for r in byte_budget_select(cand, budget, prefix_len=4).collect()
    }
    flat = sorted(rows, key=lambda r: (-r[1], r[0]))
    cum = 0
    for url, _p, b in flat:
        cum += b
        assert got[url] == (cum, cum <= budget), url
    assert 0 < sum(v[1] for v in got.values()) < len(rows)


def test_rel_canonical_edges_and_chains(spark):
    """X117: quoted and bare attribute forms parse; self-links drop;
    chains resolve through hops; a declared cycle reports unresolved."""
    from oa_spider_spark.frontier.canon import canonical_resolution

    rows = [
        ("/a", '<head><link rel="canonical" href="/b"></head>'),
        ("/b", "<head><link rel=canonical href=/c></head>"),
        ("/c", "<head></head>"),                                   # terminal
        ("/self", '<head><link rel="canonical" href="/self"></head>'),
        ("/x", '<head><link rel="canonical" href="/y"></head>'),
        ("/y", '<head><link rel="canonical" href="/x"></head>'),   # cycle
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    got = {
        r.node: (r.final_node, r.hops, r.resolved)
        for r in canonical_resolution(pages, max_hops=8).collect()
    }
    assert got["/a"] == ("/c", 2, 1)
    assert got["/b"] == ("/c", 1, 1)
    assert got["/c"] == ("/c", 0, 1)
    assert "/self" not in got            # self-link contributes no edge
    assert got["/x"][2] == 0 and got["/x"][1] == 8   # cycle: hop cap, unresolved


def test_politeness_audit_violations(spark):
    """X126: gaps below the declared delay count as violations; the
    first fetch (no gap) never does; absent hosts take the default."""
    from oa_spider_spark.frontier.politeness import politeness_audit

    fetches = spark.createDataFrame(
        [("a", 0), ("a", 500_000), ("a", 1_600_000),
         ("b", 0), ("b", 2_000_000),
         ("c", 0), ("c", 400_000)],
        "host string, ts_us long",
    )
    delays = spark.createDataFrame(
        [("a", 800), ("b", 1000)], "host string, crawl_delay_ms long"
    )
    got = {
        r.host: (r.n_fetches, r.min_gap_us, r.violations, r.compliant)
        for r in politeness_audit(fetches, delays, default_delay_ms=500).collect()
    }
    assert got == {
        "a": (3, 500_000, 1, False),   # 500ms gap < 800ms; 1.1s gap ok
        "b": (2, 2_000_000, 0, True),
        "c": (2, 400_000, 1, False),   # default 500ms
    }


def test_hreflang_validation(spark):
    """X128: multi-tag extraction (quoted + bare), self-declaration
    dropped, reciprocity marked per edge."""
    from oa_spider_spark.frontier.canon import hreflang_validation

    rows = [
        ("/a", '<link rel="alternate" hreflang="fr" href="/b">'
               '<link rel="alternate" hreflang="en" href="/a">'),  # self drops
        ("/b", "<link rel=alternate hreflang=en href=/a>"),
        ("/c", '<link rel="alternate" hreflang="de" href="/d">'),  # one-sided
        ("/d", "<head></head>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    got = {
        (r.src, r.dst): (r.hreflang, r.reciprocal)
        for r in hreflang_validation(pages).collect()
    }
    assert got == {
        ("/a", "/b"): ("fr", True),
        ("/b", "/a"): ("en", True),
        ("/c", "/d"): ("de", False),
    }


def test_pagination_series_positions(spark):
    """X131: members resolve to the chain head with their position; a
    declared next-loop reports unresolved."""
    from oa_spider_spark.frontier.canon import pagination_series

    rows = [
        ("/p1", '<link rel="next" href="/p2">'),
        ("/p2", "<link rel=next href=/p3>"),
        ("/p3", "<head></head>"),
        ("/x", '<link rel="next" href="/y">'),
        ("/y", '<link rel="next" href="/x">'),   # loop
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    got = {
        r.url: (r.series_id, r.position, r.resolved)
        for r in pagination_series(pages, max_hops=8).collect()
    }
    assert got["/p1"] == ("/p1", 0, 1)
    assert got["/p2"] == ("/p1", 1, 1)
    assert got["/p3"] == ("/p1", 2, 1)
    assert got["/x"][2] == 0 and got["/x"][1] == 8


def test_host_reciprocity_fold(spark):
    """X133: balanced pairs read 1000 milli, one-sided 0, skew in
    between; self-loops never count."""
    from oa_spider_spark.operators.graph import host_reciprocity

    rows = (
        [("a", "b")] * 6 + [("b", "a")] * 6          # balanced
        + [("a", "c")] * 12                          # one-sided
        + [("b", "c")] * 9 + [("c", "b")] * 3        # skewed 3:1
        + [("a", "a")] * 5                           # self: dropped
    )
    links = spark.createDataFrame(rows, "src_host string, dst_host string")
    got = {
        (r.host_a, r.host_b): (r.a_to_b, r.b_to_a, r.reciprocity_milli, r.flagged)
        for r in host_reciprocity(links, min_links=10, min_reciprocity_milli=600).collect()
    }
    assert got == {
        ("a", "b"): (6, 6, 1000, True),
        ("a", "c"): (12, 0, 0, False),
        ("b", "c"): (9, 3, 500, False),
    }


def test_fairness_index_bounds(spark):
    """X134: equal shares read 1000; total starvation reads 1000/n."""
    from oa_spider_spark.operators.pipeline import fairness_index

    eq = spark.createDataFrame([("a", 5), ("b", 5), ("c", 5), ("d", 5)], "host string, n long")
    r = fairness_index(eq).collect()[0]
    assert (r.n_members, r.total, r.fairness_milli) == (4, 20, 1000)
    sk = spark.createDataFrame([("a", 20), ("b", 0), ("c", 0), ("d", 0)], "host string, n long")
    r2 = fairness_index(sk).collect()[0]
    assert r2.fairness_milli == 250   # 1000/n at full starvation
    mid = spark.createDataFrame([("a", 3), ("b", 1)], "host string, n long")
    r3 = fairness_index(mid).collect()[0]
    assert r3.fairness_milli == 800   # 16*1000 // (2*10)


def test_coverage_diff_quadrants(spark):
    """X135: coverage and orphan fractions over all four url quadrants."""
    from oa_spider_spark.frontier.sitemap import coverage_diff

    declared = spark.createDataFrame(
        [("h", "/1"), ("h", "/2"), ("h", "/3"), ("h", "/4")],
        "host string, url string",
    )
    crawled = spark.createDataFrame(
        [("h", "/1"), ("h", "/2"), ("h", "/9")], "host string, url string"
    )
    r = coverage_diff(declared, crawled).collect()[0]
    assert (r.n_declared, r.n_crawled, r.n_both) == (4, 3, 2)
    assert r.coverage_milli == 500    # 2 of 4 declared reached
    assert r.orphan_milli == 333      # 1 of 3 crawled undeclared


def test_gc_plan_reasons(spark):
    """X136: compaction bases live forever; superseded appends delete
    only past the time-travel horizon; post-compaction appends live."""
    from oa_spider_spark.operators.layout import gc_plan

    rows = [
        ("t", "s0", 0, "append", 10),
        ("t", "s1", 1, "append", 10),
        ("t", "s2", 2, "compact", 30),
        ("t", "s3", 3, "append", 10),
        ("t", "s4", 4, "append", 10),
        ("u", "u0", 0, "append", 10),   # no compaction: all live
    ]
    df = spark.createDataFrame(rows, "table string, snap string, round long, kind string, bytes long")
    got = {r.snap: r.reason for r in gc_plan(df, keep_rounds=3).collect()}
    assert got == {
        "s0": "deletable",              # <= compact(2), < horizon (4-3)
        "s1": "time-travel-retained",   # superseded but inside horizon
        "s2": "live-base",
        "s3": "live",
        "s4": "live",
        "u0": "live",
    }


def test_bfs_depths_hand_graph(spark):
    """Min-hop semantics on a hand graph: diamond (two routes, shortest
    wins), a cycle back to the seed (must not relabel), a node beyond
    the hop budget (must not appear), and an unreachable island."""
    from oa_spider_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(
        [
            ("s", "a"), ("s", "b"),        # layer 1
            ("a", "c"), ("b", "c"),        # diamond join: c at 2
            ("c", "s"),                    # cycle back to seed
            ("c", "d"), ("d", "e"),        # chain: d at 3, e at 4
            ("a", "d"),                    # shortcut: d actually at 2
            ("x", "y"),                    # unreachable island
        ],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r["node"]: r["depth"] for r in bfs_depths(edges, seeds, max_hops=3).collect()}
    assert got == {"s": 0, "a": 1, "b": 1, "c": 2, "d": 2, "e": 3}
    # hop budget: with max_hops=1 only the first layer labels
    got1 = {r["node"]: r["depth"] for r in bfs_depths(edges, seeds, max_hops=1).collect()}
    assert got1 == {"s": 0, "a": 1, "b": 1}


def test_ip_cohost_caps_exact_split(spark):
    """Over-cap cluster: grants sum to the cap exactly with largest-
    remainder seats; under-cap singleton passes demand through; zero-
    demand host grants 0 without dividing."""
    from oa_spider_spark.frontier.politeness import ip_cohost_caps

    rows = [
        ("a1", "ipA", 70), ("a2", "ipA", 50), ("a3", "ipA", 30),  # D=150
        ("b1", "ipB", 80),                                        # D=80
        ("c1", "ipC", 0),
    ]
    df = spark.createDataFrame(rows, "host string, ip string, demand long")
    out = {r["host"]: r for r in ip_cohost_caps(df, per_ip_cap=100).collect()}
    # cap 100 split over 70/50/30: base 46/33/20 (sum 99), remainders
    # 100*70%150=100, 100*50%150=50, 100*30%150=0 -> seat to a1
    assert (out["a1"]["granted"], out["a2"]["granted"], out["a3"]["granted"]) == (
        47, 33, 20,
    )
    assert sum(out[h]["granted"] for h in ("a1", "a2", "a3")) == 100
    assert out["a1"]["co_hosted"] and not out["b1"]["co_hosted"]
    assert out["b1"]["granted"] == 80 and out["b1"]["throttle_milli"] == 1000
    assert out["c1"]["granted"] == 0 and out["c1"]["throttle_milli"] == 1000


def test_hrw_movement_matches_python_argmax(spark):
    """The audit's per-shard moved counts equal a direct Python replay
    of the portable scores, and every moved host lands on a NEW shard
    (HRW prefix identity)."""
    import hashlib

    from oa_spider_spark.frontier.politeness import hrw_movement_audit

    def score(h, k):
        return int(hashlib.md5(f"{h}:{k}".encode()).hexdigest()[:15], 16)

    hosts = [f"s{i}" for i in range(50)]

    def argmax(h, n):
        sc = [score(h, k) for k in range(n)]
        return sc.index(max(sc))

    moved = {h for h in hosts if argmax(h, 5) != argmax(h, 4)}
    # prefix identity: every move targets the new shard (index 4)
    assert all(argmax(h, 5) == 4 for h in moved)
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    out = hrw_movement_audit(df, 4, 5, portable=True).collect()
    assert sum(r["moved_out"] for r in out) == len(moved)
    assert sum(r["n_hosts"] for r in out) == len(hosts)
    by_shard = {r["shard_old"]: r for r in out}
    for h in moved:
        s = argmax(h, 4)
        assert by_shard[s]["moved_out"] >= 1


def test_path_rollup_depth_cap_and_directs(spark):
    """Prefix counts are exact; a pathological deep path rolls into its
    max_depth ancestor instead of fanning out."""
    from oa_spider_spark.frontier.canon import path_section_rollup

    deep = "/" + "/".join(f"d{i}" for i in range(50)) + "/x.html"
    rows = [("/a/b/p1.html",), ("/a/b/p2.html",), ("/a/q.html",), (deep,)]
    df = spark.createDataFrame(rows, "path string")
    out = {
        (r["prefix"], r["depth"]): r
        for r in path_section_rollup(df, max_depth=3).collect()
    }
    assert out[("/a", 1)]["n_subtree"] == 3
    assert out[("/a", 1)]["n_direct"] == 1            # /a/q.html
    assert out[("/a/b", 2)]["n_subtree"] == 2
    assert out[("/a/b", 2)]["n_direct"] == 2
    # deep path contributes exactly max_depth prefixes, deepest = direct
    deep_rows = [k for k in out if k[0].startswith("/d0")]
    assert len(deep_rows) == 3
    assert out[("/d0/d1/d2", 3)]["n_direct"] == 1


def test_path_rollup_root_page_emits_no_prefix(spark):
    """A root-level page has no directory: it adds no prefix row (the
    F.sequence(1, 0) = [1, 0] trap emitted its filename at depth 1 and
    '/' at depth 0)."""
    from oa_spider_spark.frontier.canon import path_section_rollup

    df = spark.createDataFrame([("/root.html",), ("/a/p.html",)], "path string")
    got = {(r["prefix"], r["depth"], r["n_subtree"], r["n_direct"])
           for r in path_section_rollup(df).collect()}
    assert got == {("/a", 1, 1, 1)}
