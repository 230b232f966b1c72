"""Crawl-engine equivalence vs the pure-Python reference simulator.

The north_rule gate: same seed list + same politeness budget ⇒ the Spark
engine must reproduce the reference loop's crawl ordering and URL-seen
set exactly, and every fetched row must satisfy the payload invariants
(decoded-pixel PSNR ≥ 40 dB for lossy / exact for lossless, byte-exact
caption).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oa_spider_spark import datagen, sim
from oa_spider_spark.frontier.canon import canonicalize_url, with_url_columns
from oa_spider_spark.frontier.round import (
    FRONTIER_DDL,
    SEEN_DDL,
    normalize_frontier,
    run_crawl,
    run_round,
    seed_catalog,
)
from oa_spider_spark.frontier.seen import anti_join_seen, bloom_params
from oa_spider_spark.hashing import url_hash64
from oa_spider_spark.kernels.codec import decode_image, psnr
from oa_spider_spark.tables import Catalog

N_URLS = 400
N_HOSTS = 10
BUDGET = 25
ROUNDS = 3


def test_canonicalize_matches_python_twin(spark):
    urls = [
        "http://H000.Example.org/doc/1",
        "http://h1.example.org:80/a/b?z=2&a=1",
        "https://h2.example.org:443/p?x=1#frag",
        "http://h3.example.org/mail/9?b=2&a=1&a=0",
        "http://h4.example.org",
        "http://h5.example.org/?q=",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"]).select(
        "url", canonicalize_url("url").alias("canon")
    )
    for row in df.collect():
        assert row["canon"] == datagen.canon_of(row["url"]), row["url"]


def test_url_hash_matches_python_twin(spark):
    urls = [r["url"] for r in datagen.seed_frontier_rows(50, n_hosts=5)]
    df = with_url_columns(spark.createDataFrame([(u,) for u in urls], ["url"]))
    for row in df.select("url_canon", "url_hash").collect():
        assert row["url_hash"] == url_hash64(row["url_canon"])


def test_distributed_seed_gen_matches_python_twin(spark):
    """datagen.seed_frontier_df (Column-expression generator, the 10^8+
    scale path) must produce bit-identical frontier rows to the Python
    generator the simulator consumes."""
    from oa_spider_spark.frontier.round import normalize_frontier

    a = datagen.seed_frontier_df(spark, 500, n_hosts=7, hot_share=0.3).orderBy("url").collect()
    b = normalize_frontier(
        spark, datagen.seed_frontier_rows(500, n_hosts=7, hot_share=0.3)
    ).orderBy("url").collect()
    assert a == b


@pytest.fixture(scope="module")
def crawl_pair(spark, tmp_path_factory):
    """Run the same ROUNDS-round crawl in both engines."""
    root = tmp_path_factory.mktemp("catalog")
    seeds = datagen.seed_frontier_rows(N_URLS, n_hosts=N_HOSTS, hot_share=0.4)
    cat = Catalog(root)
    seed_catalog(spark, cat, seeds)
    results = run_crawl(
        spark, cat, ROUNDS, n_hosts=N_HOSTS, default_budget=BUDGET,
        seen_index_min=0,
    )
    st = sim.seed_state(seeds)
    sim_rounds = [
        sim.run_round_sim(st, r, n_hosts=N_HOSTS, default_budget=BUDGET)
        for r in range(ROUNDS)
    ]
    return cat, results, st, sim_rounds


def test_crawl_order_equivalence(spark, crawl_pair):
    cat, results, st, sim_rounds = crawl_pair
    fetched = cat.read(spark, "fetched")
    for r in range(ROUNDS):
        engine_seq = [
            row["url_canon"]
            for row in fetched.filter(F.col("round") == r)
            .orderBy("fetch_order")
            .select("url_canon")
            .collect()
        ]
        sim_seq = [rec["url_canon"] for rec in sim_rounds[r]]
        assert engine_seq == sim_seq, f"round {r}: order diverges"


def test_seen_set_equivalence(spark, crawl_pair):
    cat, results, st, sim_rounds = crawl_pair
    seen = cat.read(spark, "seen")
    engine_seen = {row["url_hash"]: row["status"] for row in seen.collect()}
    assert engine_seen == st.seen


def test_no_url_processed_twice(spark, crawl_pair):
    """Retries may re-fetch a URL across rounds (T2), but a URL is
    *processed* (ok/failed) at most once, and never re-fetched after the
    round that put it into seen."""
    cat, *_ = crawl_pair
    fetched = cat.read(spark, "fetched")
    done = fetched.filter(F.col("status") != "retry")
    assert done.groupBy("url_hash").count().filter(F.col("count") > 1).count() == 0
    seen = cat.read(spark, "seen").select("url_hash", F.col("round_seen"))
    after = (
        fetched.join(seen, "url_hash")
        .filter(F.col("round") > F.col("round_seen"))
        .count()
    )
    assert after == 0


def test_budget_respected(spark, crawl_pair):
    cat, *_ = crawl_pair
    fetched = cat.read(spark, "fetched")
    over = (
        fetched.groupBy("round", "host")
        .count()
        .filter(F.col("count") > BUDGET)
        .count()
    )
    assert over == 0


def test_payload_invariants(spark, crawl_pair):
    """Per-row invariant (BASELINE.json input_hint): engine bytes decode
    to pixels within PSNR gate of the simulator's decode; captions are
    byte-exact; phash identical."""
    cat, results, st, sim_rounds = crawl_pair
    fetched = cat.read(spark, "fetched").filter(F.col("status") == "ok")
    sim_by_canon = {rec["url_canon"]: rec for recs in sim_rounds for rec in recs if rec["status"] == "ok"}
    rows = fetched.select("url_canon", "bytes", "caption", "fmt", "phash").collect()
    assert len(rows) == len(sim_by_canon)
    for row in rows:
        ref = sim_by_canon[row["url_canon"]]
        assert row["caption"] == ref["caption"]
        assert row["phash"] == ref["phash"]
        a = decode_image(bytes(row["bytes"]))
        b = decode_image(ref["bytes"])
        if row["fmt"] == "png":
            assert np.array_equal(a, b)
        else:
            assert psnr(a, b) >= 40.0


def test_lineage_accounts_for_all_rows(spark, crawl_pair):
    cat, results, *_ = crawl_pair
    lineage = cat.read(spark, "lineage")
    per_round = {
        row["round"]: row["total"]
        for row in lineage.groupBy("round").agg(F.sum("rows_in").alias("total")).collect()
    }
    for res in results:
        assert per_round[res.round_id] == res.selected


def test_round_totals_match_lineage(spark, crawl_pair):
    """RoundResult totals come from an Observation on the staging write;
    they must equal the per-partition lineage rows of the same round."""
    cat, results, *_ = crawl_pair
    sums = {
        row["round"]: row
        for row in cat.read(spark, "lineage").groupBy("round").agg(
            F.sum("rows_in").alias("selected"), F.sum("rows_out").alias("ok"),
            F.sum("rows_retry").alias("retry"), F.sum("rows_failed").alias("failed"),
            F.sum("bytes_fetched").alias("bytes"),
        ).collect()
    }
    for res in results:
        row = sums[res.round_id]
        assert (res.selected, res.fetched_ok, res.retried, res.failed, res.bytes_fetched) == (
            row["selected"], row["ok"], row["retry"], row["failed"], row["bytes"]
        )


@pytest.mark.parametrize("table,ddl", [("frontier", FRONTIER_DDL), ("seen", SEEN_DDL)])
def test_known_schema_read_runs_no_job(spark, crawl_pair, table, ddl):
    """run_round reads frontier and seen with their DDL: the same rows and
    types as the inferred read, without its schema-inference job."""
    cat, *_ = crawl_pair
    sc = spark.sparkContext
    reads, job_ids = {}, {}
    try:
        for label, schema in (("known", ddl), ("inferred", None)):
            group = f"read_{table}_{label}"
            sc.setJobGroup(group, group)
            reads[label] = cat.read(spark, table, schema=schema)
            job_ids[label] = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not job_ids["known"] and job_ids["inferred"], job_ids
    assert reads["known"].dtypes == reads["inferred"].dtypes
    assert sorted(reads["known"].collect()) == sorted(reads["inferred"].collect())


def test_empty_selection_returns_zero_totals(spark, tmp_path):
    """Nothing selectable (every URL past max_depth): the round still
    commits and reports all-zero totals."""
    seeds = [dict(r, depth=3) for r in datagen.seed_frontier_rows(20, n_hosts=4)]
    cat = Catalog(tmp_path / "cat")
    seed_catalog(spark, cat, seeds)
    res = run_round(spark, cat, 0, n_hosts=4, default_budget=10, max_depth=2)
    assert (res.selected, res.fetched_ok, res.retried, res.failed, res.new_links,
            res.bytes_fetched) == (0, 0, 0, 0, 0, 0)
    assert 0 in cat.committed_rounds()


def test_exact_resume_skips_committed_rounds(spark, crawl_pair):
    cat, results, *_ = crawl_pair
    # re-running the same crawl must be a no-op (idempotent restart)
    again = run_crawl(spark, cat, ROUNDS, n_hosts=N_HOSTS, default_budget=BUDGET)
    assert again == []


def test_resume_mid_crawl_continues(spark, tmp_path):
    seeds = datagen.seed_frontier_rows(60, n_hosts=4)
    cat = Catalog(tmp_path / "cat")
    seed_catalog(spark, cat, seeds)
    run_round(spark, cat, 0, n_hosts=4, default_budget=10)
    # "crash": new driver resumes; round 0 skipped, round 1 runs
    results = run_crawl(spark, cat, 2, n_hosts=4, default_budget=10)
    assert [r.round_id for r in results] == [1]


def test_hosts_table_budgets_and_robots_equivalence(spark, tmp_path):
    """S14/J3/T5 — the hosts/politeness table actually gates selection:
    per-host budget overrides and robots_disallow prefixes, exercised
    end-to-end through run_round AND the sequential simulator with the
    same config; crawl order and seen set must stay identical."""
    n_hosts, rounds = 6, 2
    seeds = datagen.seed_frontier_rows(300, n_hosts=n_hosts, hot_share=0.4)
    host_budgets = {"h000.example.org": 3, "h001.example.org": 40}
    robots_disallow = {
        "h002.example.org": ["/mail"],
        "h000.example.org": ["/doc/2"],
    }
    # h001: Crawl-delay 240 s -> cap ROUND_PERIOD_MS/240000 = 5 < its 40
    # budget override; h003: delay-only row (no override) -> budget = cap 8
    crawl_delays = {"h001.example.org": 240_000, "h003.example.org": 150_000}
    hosts_df = spark.createDataFrame(
        [
            ("h000.example.org", 3, 0, ["/doc/2"]),
            ("h001.example.org", 40, 240_000, []),
            ("h002.example.org", None, 0, ["/mail"]),
            ("h003.example.org", None, 150_000, []),
        ],
        "host string, budget_per_round int, crawl_delay_ms int, robots_disallow array<string>",
    )
    cat = Catalog(tmp_path / "hostscat")
    seed_catalog(spark, cat, seeds)
    run_crawl(
        spark, cat, rounds, n_hosts=n_hosts, default_budget=BUDGET,
        hosts_table=hosts_df,
    )
    st = sim.seed_state(seeds)
    sim_rounds = [
        sim.run_round_sim(
            st, r, n_hosts=n_hosts, default_budget=BUDGET,
            host_budgets=host_budgets, robots_disallow=robots_disallow,
            crawl_delays=crawl_delays,
        )
        for r in range(rounds)
    ]

    fetched = cat.read(spark, "fetched")
    for r in range(rounds):
        engine_seq = [
            row["url_canon"]
            for row in fetched.filter(F.col("round") == r)
            .orderBy("fetch_order").select("url_canon").collect()
        ]
        assert engine_seq == [rec["url_canon"] for rec in sim_rounds[r]], f"round {r}"
    engine_seen = {
        row["url_hash"]: row["status"] for row in cat.read(spark, "seen").collect()
    }
    assert engine_seen == st.seen

    # the gates actually bit: overridden host stayed under 3/round, and no
    # disallowed path was ever fetched
    per = {
        (row["round"], row["host"]): row["count"]
        for row in fetched.groupBy("round", "host").count().collect()
    }
    for r in range(rounds):
        assert per.get((r, "h000.example.org"), 0) <= 3
        # crawl-delay caps bit: 40-budget h001 held to 5, no-override h003 to 8
        assert per.get((r, "h001.example.org"), 0) <= 5
        assert per.get((r, "h003.example.org"), 0) <= 8
    assert per.get((0, "h001.example.org"), 0) == 5  # cap actually reached
    assert fetched.filter(
        (F.col("host") == "h002.example.org") & F.col("url_canon").contains("/mail")
    ).count() == 0
    # robots must have removed at least something (test isn't vacuous)
    assert any(rec["host"] == "h002.example.org" for recs in sim_rounds for rec in recs)


def test_bloom_and_exact_agree(spark):
    rows = datagen.seed_frontier_rows(300, n_hosts=6)
    df = normalize_frontier(spark, rows)
    seen = df.limit(120).select("url_hash", "url_canon")
    with_bloom = anti_join_seen(df, seen, use_bloom=True)
    without = anti_join_seen(df, seen, use_bloom=False)
    a = {r["url_hash"] for r in with_bloom.select("url_hash").collect()}
    b = {r["url_hash"] for r in without.select("url_hash").collect()}
    assert a == b


def test_bloom_params_sane():
    m, k = bloom_params(1_000_000, 0.01)
    assert 9_000_000 < m < 11_000_000  # ~9.6 bits/key at 1% fpp
    assert k in (6, 7, 8)


def test_retry_taxonomy(spark, crawl_pair):
    """Transient URLs (seed % RETRY_MOD == 0) must eventually succeed on a
    later round; fatal URLs must be dead-lettered, never retried."""
    cat, results, st, sim_rounds = crawl_pair
    fetched = cat.read(spark, "fetched")
    retried = fetched.filter(F.col("status") == "retry").select("url_hash").distinct()
    later_ok = fetched.filter(F.col("status") == "ok").select("url_hash")
    recovered = retried.join(later_ok, "url_hash", "inner").count()
    assert recovered > 0  # retries do come back and succeed
    failed = fetched.filter(F.col("status") == "failed")
    assert failed.count() > 0
    # fatal rows appear exactly once (dead-letter, no re-fetch)
    assert failed.groupBy("url_hash").count().filter(F.col("count") > 1).count() == 0


def test_anti_join_seen_rejects_bad_use_bloom():
    """ADVICE r01: truthy non-(True/'auto') values used to silently
    disable dedup entirely; now they are rejected up front."""
    from oa_spider_spark.frontier.seen import anti_join_seen

    with pytest.raises(ValueError):
        anti_join_seen(None, None, use_bloom="yes")
    with pytest.raises(ValueError):
        anti_join_seen(None, None, use_bloom=2)
    # 1/0 are allowed: Python int-bool equality makes them ≡ True/False


def test_timeout_discipline(spark, crawl_pair):
    """T3: fetches whose simulated service time exceeds FETCH_TIMEOUT_MS
    are abandoned at the deadline (no payload, elapsed capped, reason
    'timeout'), re-enter with attempt+1, and recover iff the slowness was
    first-attempt-only; engine rows carry the identical elapsed_ms/reason
    the simulator records."""
    from oa_spider_spark.config import FETCH_TIMEOUT_MS

    cat, results, st, sim_rounds = crawl_pair
    fetched = cat.read(spark, "fetched")

    tmo = fetched.filter(F.col("reason") == "timeout")
    assert tmo.count() > 0
    # abandoned at the deadline: capped elapsed, no payload bytes
    bad = tmo.filter(
        (F.col("elapsed_ms") != FETCH_TIMEOUT_MS)
        | (F.col("status") != "retry")
        | (F.col("nbytes") != 0)
    )
    assert bad.count() == 0
    # successful fetches always finish inside the budget
    assert (
        fetched.filter(
            (F.col("status") == "ok") & (F.col("elapsed_ms") >= FETCH_TIMEOUT_MS)
        ).count()
        == 0
    )

    # row-level equivalence of the timeout taxonomy vs the simulator
    for r in range(ROUNDS):
        eng = [
            (row["reason"], row["elapsed_ms"])
            for row in fetched.filter(F.col("round") == r)
            .orderBy("fetch_order")
            .select("reason", "elapsed_ms")
            .collect()
        ]
        ref = [(rec["reason"], rec["elapsed_ms"]) for rec in sim_rounds[r]]
        assert eng == ref, f"round {r}: timeout taxonomy diverges"

    # first-attempt-only slow URLs recover on the retry...
    slow_ok = (
        tmo.select("url_hash")
        .distinct()
        .join(fetched.filter(F.col("status") == "ok").select("url_hash"), "url_hash")
        .count()
    )
    assert slow_ok > 0
    # ...and lineage surfaces the per-round timeout counts
    lineage = cat.read(spark, "lineage")
    n_lineage = sum(r["t"] for r in lineage.groupBy().agg(F.sum("rows_timeout").alias("t")).collect())
    assert n_lineage == tmo.count()
