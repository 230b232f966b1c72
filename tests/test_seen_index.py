"""Persisted incremental Bloom index + bucketed seen/frontier layout
(VERDICT r03 item 1): the per-round seen-set cost must scale with ROUND
size, not corpus lifetime.

* the index is maintained by OR-ing each round's seen delta into
  persisted shards — pinned bit-identical to a from-scratch build;
* an index older than the last seen commit is never trusted (a filter
  missing keys would re-fetch seen URLs — the one unsafe direction);
* capacity overflow triggers a geometric rebuild;
* the bucketed catalog layout removes EVERY url_hash exchange from the
  round's selection plan (frontier dedup + seen anti-join), while
  producing byte-identical crawl results to the plain layout.
"""

from pyspark.sql import functions as F

from oa_spider_spark import datagen
from oa_spider_spark.frontier.round import (
    dedup_frontier,
    run_crawl,
    run_round,
    seed_catalog,
)
from oa_spider_spark.frontier.seen import (
    anti_join_seen,
    build_bloom_shards,
    read_bloom_index,
)
from oa_spider_spark.tables import SCALE_LAYOUT, Catalog


def _crawl(spark, root, rounds=3, bucketed=None, **kw):
    cat = Catalog(root, bucketed=bucketed)
    seed_catalog(spark, cat, datagen.seed_frontier_rows(2500, n_hosts=10))
    # build the index from round 0 at toy corpus size (the default
    # threshold skips it below the SEEN_INDEX_MIN breakeven — tested
    # separately)
    kw.setdefault("seen_index_min", 0)
    res = run_crawl(spark, cat, rounds, n_hosts=10, default_budget=250, **kw)
    return cat, res


def test_incremental_index_equals_fresh_build(spark, tmp_path):
    """After 3 maintained rounds the persisted shards are BIT-IDENTICAL
    to a from-scratch build over the full seen table at the same params,
    and meta.n_items matches the table exactly."""
    cat, _ = _crawl(spark, tmp_path / "cat")
    shards, meta = read_bloom_index(spark, cat)
    seen_keys = cat.read(spark, "seen").select("url_hash")
    fresh = build_bloom_shards(seen_keys, meta.n_shards, meta.m_shard, meta.k)
    got = {r["shard"]: r["bits"] for r in shards.collect()}
    want = {r["shard"]: r["bits"] for r in fresh.collect()}
    assert got == want
    assert meta.n_items == seen_keys.count()
    assert meta.as_of_round == 2


def test_index_gated_antijoin_equals_exact(spark, tmp_path):
    """Forcing the Bloom path through the PERSISTED index yields exactly
    the exact-join survivor set (false positives only cost a lookup;
    false negatives are impossible by the superset invariant)."""
    cat, _ = _crawl(spark, tmp_path / "cat")
    idx = read_bloom_index(spark, cat)
    frontier, seen = cat.read(spark, "frontier"), cat.read(spark, "seen")
    exact = {
        r["url_hash"]
        for r in anti_join_seen(frontier, seen, use_bloom=False)
        .select("url_hash").collect()
    }
    via = {
        r["url_hash"]
        for r in anti_join_seen(frontier, seen, use_bloom=True, index=idx)
        .select("url_hash").collect()
    }
    assert via == exact and len(exact) > 0


def test_stale_index_is_discarded(spark, tmp_path):
    """A seen commit the index has not absorbed makes it unsafe (not a
    superset) — read_bloom_index must return None, never the stale one."""
    cat, _ = _crawl(spark, tmp_path / "cat", rounds=2)
    assert read_bloom_index(spark, cat) is not None
    # round 2 commits seen rows WITHOUT maintaining the index, the way a
    # bulk load of seen URLs commits them
    extra = spark.range(50).select(
        F.xxhash64(F.concat(F.lit("bulk:"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("https://bulk.example/x/"), F.col("id")).alias("url_canon"),
        F.lit("ok").alias("status"),
        F.lit(2).alias("round_seen"),
    )
    cat.commit_round(
        2, {"seen": [cat.stage(extra, "seen", 2)]}, counts={"seen": 50}
    )
    assert read_bloom_index(spark, cat) is None
    # the next maintained round detects staleness and rebuilds in full
    run_round(spark, cat, 3, n_hosts=10, default_budget=250, seen_index_min=0)
    shards, meta = read_bloom_index(spark, cat)
    seen_keys = cat.read(spark, "seen").select("url_hash")
    assert meta.n_items == seen_keys.count()
    fresh = build_bloom_shards(seen_keys, meta.n_shards, meta.m_shard, meta.k)
    assert {r["shard"]: r["bits"] for r in shards.collect()} == {
        r["shard"]: r["bits"] for r in fresh.collect()
    }


def test_capacity_overflow_triggers_geometric_rebuild(spark, tmp_path, monkeypatch):
    """When cumulative inserts outgrow the sized capacity the index is
    rebuilt at ≥4× total — fpp never silently degrades."""
    import oa_spider_spark.frontier.seen as seen_mod

    monkeypatch.setattr(seen_mod, "BLOOM_MIN_CAPACITY", 64)
    cat, _ = _crawl(spark, tmp_path / "cat", rounds=3)
    shards, meta = read_bloom_index(spark, cat)
    n = cat.read(spark, "seen").count()
    assert meta.n_items == n
    assert meta.capacity >= 4 * meta.n_items or meta.n_items <= meta.capacity
    assert meta.capacity > 64  # grew past the floor
    # rebuilt shards still match a fresh build at the CURRENT params
    fresh = build_bloom_shards(
        cat.read(spark, "seen").select("url_hash"),
        meta.n_shards, meta.m_shard, meta.k,
    )
    assert {r["shard"]: r["bits"] for r in shards.collect()} == {
        r["shard"]: r["bits"] for r in fresh.collect()
    }


def test_auto_maintenance_skips_below_breakeven_then_builds_at_crossing(
    spark, tmp_path
):
    """`seen_index_min`: no shard upkeep while the corpus is below the
    threshold (the round takes the plain left_anti there, so shards
    would be dead weight — VERDICT r04 item 2), first build exactly when
    cumulative seen crosses it, kept fresh every round thereafter; crawl
    results identical to the run maintained from round 0 throughout."""
    forced_cat, forced = _crawl(spark, tmp_path / "forced")  # threshold 0
    cat = Catalog(tmp_path / "auto")
    seed_catalog(spark, cat, datagen.seed_frontier_rows(2500, n_hosts=10))
    r0 = run_round(
        spark, cat, 0, n_hosts=10, default_budget=250, seen_index_min=10**9
    )
    assert read_bloom_index(spark, cat) is None  # below breakeven: skipped
    n0 = cat.cumulative_count("seen")
    assert n0 == cat.read(spark, "seen").count()  # log metadata is exact
    # threshold just above the current count → this round's delta crosses
    # it and triggers the FIRST build (full scan, geometric capacity)
    r1 = run_round(
        spark, cat, 1, n_hosts=10, default_budget=250, seen_index_min=n0 + 1
    )
    idx = read_bloom_index(spark, cat)
    assert idx is not None
    assert idx[1].n_items == cat.read(spark, "seen").count()
    # once the index exists, the round keeps it fresh even when the threshold
    # says skip — a skipped update would strand it stale
    r2 = run_round(
        spark, cat, 2, n_hosts=10, default_budget=250, seen_index_min=10**9
    )
    idx2 = read_bloom_index(spark, cat)
    assert idx2 is not None and idx2[1].n_items == cat.read(spark, "seen").count()
    # the policy is pure bookkeeping: identical crawl to the round-0 index
    assert [
        (r.selected, r.fetched_ok, r.retried, r.failed, r.new_links)
        for r in (r0, r1, r2)
    ] == [
        (r.selected, r.fetched_ok, r.retried, r.failed, r.new_links)
        for r in forced
    ]
    assert sorted(map(tuple, cat.read(spark, "seen").collect())) == sorted(
        map(tuple, forced_cat.read(spark, "seen").collect())
    )


def test_fresh_index_gates_the_probe(spark, tmp_path, monkeypatch):
    """One rule: an index the round keeps fresh is the index the next
    round probes through, whatever the seen count. With the threshold at
    0, round 0 builds the index and round 1 must probe it; the crawl is
    identical to the default-threshold run, which never builds one."""
    import oa_spider_spark.frontier.seen as seen_mod

    def crawl(root, **kw):
        cat = Catalog(root)
        seed_catalog(spark, cat, datagen.seed_frontier_rows(2500, n_hosts=10))
        res = run_crawl(spark, cat, 2, n_hosts=10, default_budget=250, **kw)
        return cat, res

    base_cat, base = crawl(tmp_path / "default")
    assert read_bloom_index(spark, base_cat) is None
    probes = []
    real = seen_mod.mark_maybe_seen
    monkeypatch.setattr(
        seen_mod, "mark_maybe_seen", lambda *a: probes.append(1) or real(*a)
    )
    cat, res = crawl(tmp_path / "indexed", seen_index_min=0)
    assert len(probes) >= 1
    assert res == base
    assert sorted(map(tuple, cat.read(spark, "seen").collect())) == sorted(
        map(tuple, base_cat.read(spark, "seen").collect())
    )


# --- bucketed catalog layout ---------------------------------------------


def test_bucketed_crawl_matches_plain(spark, tmp_path):
    """Same seeds, same rounds: the bucketed layout is a pure storage
    strategy — identical round totals and identical seen rows."""
    plain_cat, plain = _crawl(spark, tmp_path / "plain")
    buck_cat, buck = _crawl(spark, tmp_path / "buck", bucketed=SCALE_LAYOUT)
    assert [
        (r.selected, r.fetched_ok, r.retried, r.failed, r.new_links) for r in plain
    ] == [(r.selected, r.fetched_ok, r.retried, r.failed, r.new_links) for r in buck]
    a = sorted(map(tuple, plain_cat.read(spark, "seen").collect()))
    b = sorted(map(tuple, buck_cat.read(spark, "seen").collect()))
    assert a == b


def test_bucketed_selection_plan_has_zero_url_hash_exchanges(spark, tmp_path):
    """THE scale goal (VERDICT r03 item 1b): with seen+frontier bucketed
    on url_hash, the round's selection — full-frontier dedup AND the
    exact seen anti-join — runs with ZERO Exchange nodes. At 10^10 URLs
    that is the difference between re-shuffling the corpus every round
    and reading co-located buckets."""
    cat, _ = _crawl(spark, tmp_path / "cat", bucketed=SCALE_LAYOUT)
    # pin the AT-SCALE shape: a 10^10-row seen side is never broadcast,
    # so disable auto-broadcast (at toy test scale the planner would
    # broadcast seen and skip the bucketed read on that side — a fine
    # plan HERE, but not the one this test exists to prove)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sel = anti_join_seen(
            dedup_frontier(cat.read(spark, "frontier")).filter(F.col("depth") <= 2),
            cat.read(spark, "seen"),
            use_bloom=False,
        )
        plan = sel._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Bucketed: true") == 2, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # and it still computes the right thing
    plain_cat = Catalog(tmp_path / "plain")
    seed_catalog(
        spark, plain_cat, datagen.seed_frontier_rows(2500, n_hosts=10)
    )
    run_crawl(spark, plain_cat, 3, n_hosts=10, default_budget=250)
    ref = anti_join_seen(
        dedup_frontier(plain_cat.read(spark, "frontier")).filter(F.col("depth") <= 2),
        plain_cat.read(spark, "seen"),
        use_bloom=False,
    )
    assert sorted(map(tuple, sel.collect())) == sorted(map(tuple, ref.collect()))


def test_bucketed_catalog_time_travel_and_invisibility(spark, tmp_path):
    """Snapshot semantics survive the layout change: as_of_round reads
    partition-prune to committed snaps, staged-but-uncommitted snapshots
    stay invisible, and a reopened catalog replays the committed state."""
    cat, _ = _crawl(spark, tmp_path / "cat", rounds=2, bucketed=SCALE_LAYOUT)
    n_r0 = cat.read(spark, "seen", as_of_round=0).count()
    n_all = cat.read(spark, "seen").count()
    assert 0 < n_r0 < n_all
    # stage without committing → invisible
    extra = spark.range(99).select(
        F.xxhash64("id").alias("url_hash"),
        F.lit("u").alias("url_canon"),
        F.lit("ok").alias("status"),
        F.lit(9).alias("round_seen"),
    )
    cat.stage(extra, "seen", 9)
    assert cat.read(spark, "seen").count() == n_all
    # reopen (fresh Catalog instance, bucketed spec replayed from meta)
    cat2 = Catalog(tmp_path / "cat")
    assert cat2.bucketed["seen"] == SCALE_LAYOUT["seen"]
    assert cat2.read(spark, "seen").count() == n_all


def test_frontier_compaction_preserves_crawl(spark, tmp_path):
    """Iceberg-style rewrite: compacting the frontier after every round
    (dedup + drop-seen, superseding prior snapshots) must not change a
    single crawl result — it only bounds what later rounds re-read.
    Time-travel reads before the rewrite still see the full history."""
    cat_a, res_a = _crawl(spark, tmp_path / "plain", rounds=3)
    cat_b = Catalog(tmp_path / "compacted")
    seed_catalog(spark, cat_b, datagen.seed_frontier_rows(2500, n_hosts=10))
    res_b = run_crawl(
        spark, cat_b, 3, n_hosts=10, default_budget=250, compact_every=1
    )
    assert [
        (r.selected, r.fetched_ok, r.retried, r.failed, r.new_links) for r in res_a
    ] == [(r.selected, r.fetched_ok, r.retried, r.failed, r.new_links) for r in res_b]
    a = sorted(map(tuple, cat_a.read(spark, "seen").collect()))
    b = sorted(map(tuple, cat_b.read(spark, "seen").collect()))
    assert a == b
    # the live frontier is now the pending horizon, not the full history
    assert (
        cat_b.read(spark, "frontier").count()
        < cat_a.read(spark, "frontier").count()
    )
    # time travel to round 0 predates every rewrite → full history view
    n_asof_a = cat_a.read(spark, "frontier", as_of_round=0).count()
    n_asof_b = cat_b.read(spark, "frontier", as_of_round=0).count()
    assert n_asof_a == n_asof_b


def test_compaction_resume_is_idempotent(spark, tmp_path):
    """A committed compaction is never re-run on resume, and resuming a
    compacted catalog re-runs no crawl rounds (T4 extends to rewrites)."""
    cat = Catalog(tmp_path / "cat")
    seed_catalog(spark, cat, datagen.seed_frontier_rows(2500, n_hosts=10))
    run_crawl(spark, cat, 2, n_hosts=10, default_budget=250, compact_every=1)
    log_before = cat.committed_rounds()
    again = run_crawl(
        spark, Catalog(tmp_path / "cat"), 2,
        n_hosts=10, default_budget=250, compact_every=1,
    )
    assert again == []
    assert Catalog(tmp_path / "cat").committed_rounds() == log_before


def test_exact_resume_on_bucketed_catalog(spark, tmp_path):
    """Committed rounds are never re-run after reopening (north_rule T4)
    — unchanged by the bucketed layout."""
    cat, res = _crawl(spark, tmp_path / "cat", rounds=2, bucketed=SCALE_LAYOUT)
    cat2 = Catalog(tmp_path / "cat")
    again = run_crawl(spark, cat2, 2, n_hosts=10, default_budget=250)
    assert again == []  # both rounds already committed


def test_full_scale_stack_crawl_equivalence(spark, tmp_path):
    """ALL the scale-storage features at once — bucketed CLUSTERED-BY
    layout + persisted incremental Bloom index + per-round frontier
    compaction — against the plain baseline: identical round results,
    identical seen rows, a fresh index covering the seen table, a
    horizon-sized live frontier, and the zero-exchange selection plan
    SURVIVING compaction rewrites (the compacted snapshot re-clusters).
    Features are tested individually elsewhere; this pins their
    interactions."""
    plain_cat, plain = _crawl(spark, tmp_path / "plain")
    cat = Catalog(tmp_path / "stack", bucketed=SCALE_LAYOUT)
    seed_catalog(spark, cat, datagen.seed_frontier_rows(2500, n_hosts=10))
    res = run_crawl(
        spark, cat, 3, n_hosts=10, default_budget=250,
        compact_every=1, seen_index_min=0,
    )
    assert [
        (r.selected, r.fetched_ok, r.retried, r.failed, r.new_links) for r in plain
    ] == [(r.selected, r.fetched_ok, r.retried, r.failed, r.new_links) for r in res]
    assert sorted(map(tuple, plain_cat.read(spark, "seen").collect())) == sorted(
        map(tuple, cat.read(spark, "seen").collect())
    )
    # index stayed fresh through the compaction rewrites
    idx = read_bloom_index(spark, cat)
    assert idx is not None and idx[1].n_items == cat.read(spark, "seen").count()
    # live frontier = pending horizon, not history
    assert (
        cat.read(spark, "frontier").count()
        < plain_cat.read(spark, "frontier").count()
    )
    # zero-exchange selection on the POST-compaction layout
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sel = anti_join_seen(
            dedup_frontier(cat.read(spark, "frontier")),
            cat.read(spark, "seen"),
            use_bloom=False,
        )
        plan = sel._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Bucketed: true") == 2, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
