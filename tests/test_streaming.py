"""Structured Streaming crawl: drain a directory of frontier appends
with Trigger.AvailableNow, verify fetch results and seen-set semantics
match the batch engine's, and exercise the watermarked metrics query."""

import pytest
from pyspark.sql import functions as F

from oa_spider_spark import datagen
from oa_spider_spark.frontier.round import normalize_frontier
from oa_spider_spark.streaming.rounds import (
    FRONTIER_DDL,
    host_rate_metrics,
    streaming_crawl,
)
from oa_spider_spark.tables import Catalog


@pytest.fixture(scope="module")
def stream_setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    in_dir, ckpt = str(root / "in"), str(root / "ckpt")
    rows = datagen.seed_frontier_rows(200, n_hosts=6)
    df = normalize_frontier(spark, rows)
    df.limit(120).write.parquet(f"{in_dir}/batch0")
    # second file arrives "later" — overlapping URLs test cross-batch dedup
    df.write.parquet(f"{in_dir}/batch1")
    cat = Catalog(root / "cat")
    q = streaming_crawl(spark, cat, in_dir + "/*", ckpt, n_hosts=6, default_budget=50)
    q.awaitTermination(180)
    return cat, df


def test_streaming_crawl_processes_all(spark, stream_setup):
    cat, df = stream_setup
    fetched = cat.read(spark, "fetched")
    assert fetched is not None
    n_urls = df.select("url_hash").distinct().count()
    done = fetched.filter(F.col("status") != "retry").select("url_hash").distinct().count()
    # every distinct URL processed exactly once across micro-batches
    assert (
        fetched.filter(F.col("status") != "retry")
        .groupBy("url_hash").count().filter(F.col("count") > 1).count() == 0
    )
    # nothing is lost: processed ∪ frontier-backlog covers every SEED URL
    # (the frontier also gains extracted-link URLs — durability parity
    # with the batch engine — so compare against the seed set, not counts)
    backlog = cat.read(spark, "frontier")
    covered = (
        fetched.select("url_hash")
        .union(backlog.select("url_hash") if backlog is not None else fetched.limit(0).select("url_hash"))
        .distinct()
    )
    missing = df.select("url_hash").distinct().join(covered, "url_hash", "left_anti")
    assert missing.count() == 0
    assert done >= int(n_urls * 0.7)


def test_streaming_seen_matches_fetched(spark, stream_setup):
    cat, _ = stream_setup
    seen = cat.read(spark, "seen")
    fetched = cat.read(spark, "fetched").filter(F.col("status") != "retry")
    assert seen.count() == fetched.select("url_hash").distinct().count()


def test_host_rate_metrics_memory_sink(spark, stream_setup):
    cat, df = stream_setup
    tmp = df.sparkSession
    stream = (
        spark.readStream.schema(FRONTIER_DDL)
        .parquet(str(cat.root.parent / "in") + "/*")
    )
    agg = host_rate_metrics(stream)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("host_rates")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM host_rates")
    # append mode only emits closed windows; watermark math is exercised
    assert {"window", "host", "n_urls", "n_distinct"}.issubset(set(out.columns))


def test_streaming_self_feeding_links(spark, tmp_path):
    """links_out_dir inside the input glob makes the stream self-feeding:
    the next AvailableNow drain (the next "cron round") crawls one hop
    deeper, exactly like consecutive batch rounds."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    rows = datagen.seed_frontier_rows(60, n_hosts=4)
    normalize_frontier(spark, rows).write.parquet(f"{in_dir}/batch0")
    cat = Catalog(tmp_path / "cat")
    q = streaming_crawl(
        spark, cat, in_dir + "/*", ckpt,
        n_hosts=4, default_budget=100, links_out_dir=in_dir,
    )
    q.awaitTermination(180)
    f1 = cat.read(spark, "fetched")
    assert f1.filter(F.col("depth") >= 1).count() == 0  # drain 1: seeds only
    q2 = streaming_crawl(
        spark, cat, in_dir + "/*", ckpt,
        n_hosts=4, default_budget=100, links_out_dir=in_dir,
    )
    q2.awaitTermination(180)
    f2 = cat.read(spark, "fetched")
    # drain 2 picked up the written-back links and fetched depth-1 URLs
    assert f2.filter(F.col("depth") >= 1).count() > 0
    # and never re-fetched a seed (cross-drain seen-set held)
    dupes = (
        f2.filter(F.col("status") != "retry")
        .groupBy("url_hash").count().filter(F.col("count") > 1)
    )
    assert dupes.count() == 0


def test_streaming_batch_round_equivalence(spark, tmp_path):
    """VERDICT r02 item 7 — cross-mode equivalence: the streaming drain
    must produce the SAME fetched rows, crawl order, seen appends, retry
    re-queues, and extracted links as `run_crawl` on the same seeds.

    Mode-semantic difference (documented in streaming/rounds.py): retry
    and backlog rows go to the CATALOG frontier, not back onto the
    stream, so drain 2 fetches only the written-back links while batch
    round 1 fetches retries + links. The depth≥1 subsequence of batch
    round 1, in fetch_order, must therefore equal drain 2's link fetches
    — removing retry rows preserves the relative order of the rest."""
    from oa_spider_spark.frontier.round import run_crawl, seed_catalog

    seeds = normalize_frontier(spark, datagen.seed_frontier_rows(300, n_hosts=5))
    budget = 1000  # covers every host: round 0 selects ALL seeds in both modes

    cat_b = Catalog(tmp_path / "cat_b")
    seed_catalog(spark, cat_b, seeds)
    run_crawl(spark, cat_b, 2, n_hosts=5, default_budget=budget)

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    seeds.write.parquet(f"{in_dir}/batch0")
    cat_s = Catalog(tmp_path / "cat_s")
    for _ in range(2):  # two AvailableNow drains = two cron rounds
        q = streaming_crawl(
            spark, cat_s, in_dir + "/*", ckpt,
            n_hosts=5, default_budget=budget, links_out_dir=in_dir,
        )
        q.awaitTermination(180)

    fb = cat_b.read(spark, "fetched")
    fs = cat_s.read(spark, "fetched")

    def ordered_rows(df, *extra):
        return [
            (r["url_hash"], r["status"], r["attempt"], *[r[c] for c in extra])
            for r in df.select(
                "url_hash", "status", "attempt", "fetch_order", *extra
            ).orderBy("fetch_order").collect()
        ]

    # round 0 ⇔ epoch 10000: identical rows in the identical crawl order
    b0 = ordered_rows(fb.filter(F.col("round") == 0), "fetch_order")
    s0 = ordered_rows(fs.filter(F.col("round") == 10_000), "fetch_order")
    assert b0 == s0 and len(b0) == 300

    # seen parity per round (status taxonomy included)
    seen_b = cat_b.read(spark, "seen").filter(F.col("round_seen") == 0)
    seen_s = cat_s.read(spark, "seen").filter(F.col("round_seen") == 10_000)
    assert sorted((r["url_hash"], r["status"]) for r in seen_b.collect()) == sorted(
        (r["url_hash"], r["status"]) for r in seen_s.collect()
    )

    # lineage and commit-log parity: the drain runs the batch round body,
    # so epoch 10000 writes the same per-partition lineage totals and
    # records the same seen count in its commit entry as round 0
    def lineage_sums(cat, rnd):
        cols = ["rows_in", "rows_out", "rows_retry", "rows_timeout",
                "rows_failed", "bytes_fetched"]
        return cat.read(spark, "lineage").filter(F.col("round") == rnd).agg(
            *[F.sum(c).alias(c) for c in cols]
        ).first().asDict()

    assert lineage_sums(cat_b, 0) == lineage_sums(cat_s, 10_000)
    assert lineage_sums(cat_s, 10_000)["rows_in"] == 300

    def committed_seen(cat, rnd):
        return next(e["counts"]["seen"] for e in cat._read_log() if e["round"] == rnd)

    assert committed_seen(cat_b, 0) == committed_seen(cat_s, 10_000) == seen_s.count()

    # retry re-queue parity: same urls, same bumped attempt
    front_b = cat_b.read(spark, "frontier")
    front_s = cat_s.read(spark, "frontier")
    retry_b = front_b.filter((F.col("attempt") == 1) & (F.col("round_added") == 1))
    retry_s = front_s.filter((F.col("attempt") == 1) & (F.col("round_added") == 10_001))
    assert sorted(r["url_hash"] for r in retry_b.collect()) == sorted(
        r["url_hash"] for r in retry_s.collect()
    )

    # extracted-link parity from round 0 (same staged fetch ⇒ same links)
    links_b = front_b.filter((F.col("depth") == 1) & (F.col("round_added") == 0))
    links_s = front_s.filter((F.col("depth") == 1) & (F.col("round_added") == 10_000))
    assert sorted(r["url_canon"] for r in links_b.collect()) == sorted(
        r["url_canon"] for r in links_s.collect()
    )

    # round 1 ⇔ epoch 10001: the link subsequence, in order
    b1_links = ordered_rows(fb.filter((F.col("round") == 1) & (F.col("depth") >= 1)))
    s1 = ordered_rows(fs.filter(F.col("round") == 10_001).filter(F.col("depth") >= 1))
    assert [r[:3] for r in b1_links] == [r[:3] for r in s1]
    assert len(s1) > 0


def test_run_round_skips_existing_links_epoch_without_blocking(spark, tmp_path):
    """A replayed round finds its links epoch dir already written: the
    write is skipped, the links are read back from the dir and staged
    into the frontier snapshot, and the link count (observed on that
    read-back) is reported without waiting on a write that never ran."""
    import os
    import threading

    from oa_spider_spark.frontier.round import run_round, seed_catalog

    seeds = normalize_frontier(spark, datagen.seed_frontier_rows(60, n_hosts=4))
    links_dir = str(tmp_path / "links")
    first = Catalog(tmp_path / "first")
    seed_catalog(spark, first, seeds)
    want = run_round(spark, first, 0, n_hosts=4, default_budget=100, links_out_dir=links_dir)
    epoch_dir = f"{links_dir}/links_epoch_0"
    files_before = sorted(os.listdir(epoch_dir))
    assert want.new_links > 0

    replay = Catalog(tmp_path / "replay")
    seed_catalog(spark, replay, seeds)
    out: list = []
    t = threading.Thread(
        target=lambda: out.append(run_round(
            spark, replay, 0, n_hosts=4, default_budget=100, links_out_dir=links_dir,
        )),
        daemon=True,
    )
    t.start()
    t.join(180)
    assert not t.is_alive(), "run_round blocked on a skipped links write"
    assert out[0].new_links == want.new_links
    assert sorted(os.listdir(epoch_dir)) == files_before
    staged = replay.read(spark, "frontier").filter(F.col("round_added") == 0)
    written = spark.read.schema(FRONTIER_DDL).parquet(epoch_dir)
    assert sorted(r["url_hash"] for r in staged.filter(F.col("depth") == 1).collect()) == sorted(
        r["url_hash"] for r in written.collect()
    )


def test_streaming_releases_selection_caches(spark, tmp_path):
    """ADVICE r01: each micro-batch persisted budget_and_order's input and
    never released it — one leaked MEMORY_AND_DISK DataFrame per batch.
    Draining a fresh stream must leave the persistent-RDD registry exactly
    where it started."""
    def persisted_ids() -> set:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    rows = datagen.seed_frontier_rows(80, n_hosts=4)
    normalize_frontier(spark, rows).write.parquet(f"{in_dir}/batch0")
    # compare RDD-id SETS, not counts: unrelated earlier tests'
    # localCheckpoint RDDs get context-cleaned asynchronously, so a
    # count can legitimately DROP mid-test; a leak can only ADD ids
    before = persisted_ids()
    cat = Catalog(tmp_path / "cat")
    q = streaming_crawl(spark, cat, in_dir + "/*", ckpt, n_hosts=4, default_budget=50)
    q.awaitTermination(180)
    leaked = persisted_ids() - before
    assert not leaked, f"streaming batch leaked persisted RDDs: {leaked}"


# --- custom stateful operator: per-host circuit breaker --------------------


def _fetch_outcomes(spark):
    """Deterministic fetch-outcome table with designed failure runs.
    Per host a pattern string ('S' success / 'F' failure) in ts order;
    expected opens (threshold 3) are readable off the patterns."""
    patterns = {
        "h0": "SSFFFSSFFS",    # one run of 3 -> opens at index 4
        "h1": "FFFFFFS FF".replace(" ", ""),  # run of 6 -> opens ONCE at index 2
        "h2": "SFSFSFSFSF",    # never 3 consecutive -> no open
        "h3": "FFSFFFSSSS",    # run of 2 then run of 3 -> opens at index 5
    }
    rows = []
    for hi, (host, pat) in enumerate(sorted(patterns.items())):
        for i, c in enumerate(pat):
            rows.append((host, 1_000_000 * (i + 1) + hi, hi * 100 + i, c == "S"))
    return (
        spark.createDataFrame(
            rows, "host string, ts_us long, url_hash long, ok boolean"
        ),
        {("h0", 5_000_000 + 0, 3), ("h1", 3_000_001 + 0, 3),
         ("h3", 6_000_003 + 0, 3)},
    )


def test_circuit_breaker_batch_twin_matches_expected(spark):
    from oa_spider_spark.streaming.circuit import circuit_events_batch

    df, expected = _fetch_outcomes(spark)
    got = {
        (r["host"], r["opened_at_us"], r["run_len"])
        for r in circuit_events_batch(df, threshold=3).collect()
    }
    assert got == expected


def test_circuit_breaker_streaming_state_crosses_microbatches(
    spark, tmp_path
):
    """The applyInPandasWithState operator must equal the batch twin
    even when a failure run STRADDLES micro-batches — the state (run
    counter, open flag) persists in the checkpoint. Four time-slice
    files, one file per trigger."""
    import os

    from pyspark.sql import functions as F

    from oa_spider_spark.streaming.circuit import (
        CIRCUIT_SCHEMA,
        circuit_events_batch,
        host_circuit_breaker,
    )

    df, _ = _fetch_outcomes(spark)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # slice by event index (ts) so h1's 6-run and h3's 3-run straddle
    # file boundaries; bump mtimes so the file source orders slices
    bounds = [(0, 3), (3, 5), (5, 8), (8, 11)]
    for k, (lo, hi) in enumerate(bounds):
        part = df.filter(
            (F.col("ts_us") >= 1_000_000 * (lo + 1))
            & (F.col("ts_us") < 1_000_000 * (hi + 1))
        )
        path = f"{in_dir}/slice{k}"
        part.coalesce(1).write.parquet(path)
        t = 1_700_000_000 + k * 10
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema(
            "host string, ts_us long, url_hash long, ok boolean"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")  # slices are SUBDIRS — the file source
        # ignores non-partition subdirectories without the glob
    )
    q = (
        host_circuit_breaker(stream, threshold=3)
        .writeStream.format("memory")
        .queryName("circuit_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["host"], r["opened_at_us"], r["run_len"])
        for r in spark.sql("SELECT * FROM circuit_sink").collect()
    }
    want = {
        (r["host"], r["opened_at_us"], r["run_len"])
        for r in circuit_events_batch(df, threshold=3).collect()
    }
    assert got == want and len(want) == 3
    assert q.lastProgress is not None


# --- watermark dedup: bounded-state streaming dedup -------------------------


def _drain_dedup(spark, in_glob, ckpt, out_rows):
    """One AvailableNow drain of the watermark dedup into a collected list."""
    from oa_spider_spark.streaming.dedup import watermark_dedup

    stream = (
        spark.readStream.schema("url_hash long, ts timestamp, src string")
        .parquet(in_glob)
    )
    deduped = watermark_dedup(stream, ["url_hash"], ts_col="ts", delay="10 minutes")

    def sink(batch_df, epoch_id):
        out_rows.extend(
            (r["url_hash"], r["src"]) for r in batch_df.collect()
        )

    q = deduped.writeStream.foreachBatch(sink).trigger(availableNow=True).option(
        "checkpointLocation", ckpt
    ).start()
    q.awaitTermination(180)
    return q


def test_watermark_dedup_drops_in_window_and_expires_state(spark, tmp_path):
    """(a) Duplicates within the watermark window are dropped — output
    key set equals the batch twin's; (b) the SAME key re-emits after the
    watermark passes (state expired ⇒ bounded by window, not lifetime —
    the property plain dropDuplicates lacks and the reason this operator
    is safe at crawl scale)."""
    from oa_spider_spark.streaming.dedup import first_arrival_batch

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    base = "2024-01-01 00:{m:02d}:00"
    rows1 = [
        (1, base.format(m=0), "a"),
        (1, base.format(m=1), "dup"),   # in-window duplicate: dropped
        (2, base.format(m=2), "b"),
        (2, base.format(m=2), "dup"),
        (3, base.format(m=3), "c"),
    ]
    df1 = spark.createDataFrame(rows1, "url_hash long, ts string, src string").select(
        "url_hash", F.col("ts").cast("timestamp").alias("ts"), "src"
    )
    df1.write.parquet(f"{in_dir}/slice0")
    got: list = []
    _drain_dedup(spark, in_dir + "/*", ckpt, got)
    assert sorted(k for k, _ in got) == [1, 2, 3]
    twin = first_arrival_batch(df1, ["url_hash"], ts_col="ts")
    assert sorted(k for k, _ in got) == sorted(
        r["url_hash"] for r in twin.collect()
    )
    # advance event time far past the watermark, then re-send key 1:
    # the second drain (same checkpoint → state carries over) must emit
    # it AGAIN — its state entry expired
    rows2 = [
        (9, "2024-01-01 01:00:00", "advance"),  # pushes watermark past 00:50
    ]
    spark.createDataFrame(rows2, "url_hash long, ts string, src string").select(
        "url_hash", F.col("ts").cast("timestamp").alias("ts"), "src"
    ).write.parquet(f"{in_dir}/slice1")
    got2: list = []
    _drain_dedup(spark, in_dir + "/*", ckpt, got2)
    rows3 = [(1, "2024-01-01 01:01:00", "revisit")]
    spark.createDataFrame(rows3, "url_hash long, ts string, src string").select(
        "url_hash", F.col("ts").cast("timestamp").alias("ts"), "src"
    ).write.parquet(f"{in_dir}/slice2")
    got3: list = []
    _drain_dedup(spark, in_dir + "/*", ckpt, got3)
    assert (1, "revisit") in got3  # re-emitted after expiry


def test_streaming_maintains_persisted_bloom_index(spark, tmp_path):
    """The stream shares the batch engine's seen-path scale machinery:
    every epoch commits its Bloom-index delta atomically with its seen
    rows, so read_bloom_index is fresh (covers ALL streamed seen rows)
    after the drain — a later batch round or next drain probes the
    persisted shards instead of rescanning the seen table."""
    from oa_spider_spark.frontier.seen import read_bloom_index

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    rows = datagen.seed_frontier_rows(150, n_hosts=5)
    df = normalize_frontier(spark, rows)
    df.limit(80).write.parquet(f"{in_dir}/b0")
    df.write.parquet(f"{in_dir}/b1")
    cat = Catalog(tmp_path / "cat")
    # seen_index_min=0 builds the index at toy corpus size (the default
    # threshold skips it below the SEEN_INDEX_MIN breakeven)
    q = streaming_crawl(
        spark, cat, in_dir + "/*", ckpt, n_hosts=5, default_budget=40,
        seen_index_min=0,
    )
    q.awaitTermination(180)
    idx = read_bloom_index(spark, cat)
    assert idx is not None, "index stale or missing after streaming drain"
    shards, meta = idx
    n_seen = cat.read(spark, "seen").count()
    assert meta.n_items == n_seen and n_seen > 0
    assert meta.capacity >= meta.n_items


def test_streaming_status_drift_matches_batch_twin(spark, tmp_path):
    """X125: the stateful streaming drift alarm equals the batch twin
    (X111) including the consecutive-round pair that STRADDLES two
    checkpointed drains, and the gap round emits nothing."""
    import os

    from pyspark.sql import functions as F

    from oa_spider_spark.frontier.recrawl import status_drift
    from oa_spider_spark.streaming.drift import streaming_status_drift

    rows = []
    # h1: steady -> spike -> steady; h2: gap between rounds 1 and 3
    for r in range(6):
        if r == 3:
            rows += [("h1", r, "ok", 5), ("h1", r, "dead", 5)]
        else:
            rows += [("h1", r, "ok", 10)]
    rows += [("h2", 0, "ok", 8), ("h2", 1, "retry", 8), ("h2", 3, "ok", 8)]
    df = spark.createDataFrame(rows, "host string, round long, status string, n long")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for k, (lo, hi) in enumerate([(0, 3), (3, 6)]):  # rounds 2->3 straddle
        part = df.filter((F.col("round") >= lo) & (F.col("round") < hi))
        path = f"{in_dir}/slice{k}"
        part.coalesce(1).write.parquet(path)
        t = 1_700_000_000 + k * 10
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("host string, round long, status string, n long")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        streaming_status_drift(stream, drift_threshold_milli=400)
        .writeStream.format("memory")
        .queryName("drift_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.host, r.round_from, r.round_to, r.drift_milli, r.flagged)
        for r in spark.sql("SELECT * FROM drift_sink").collect()
    }
    want = {
        (r.host, r.round_from, r.round_to, r.drift_milli, r.flagged)
        for r in status_drift(df, drift_threshold_milli=400).collect()
    }
    assert got == want
    # the h1 spike pair (2 -> 3) crossed the drain boundary and flagged
    assert ("h1", 2, 3, 1000, True) in got
    # h2's 1 -> 3 gap produced no pair
    assert not any(r[0] == "h2" and r[2] == 3 for r in got)


def test_streaming_topk_space_saving_bounds(spark, tmp_path):
    """X146: bounded-state streaming heavy hitters. The summary never
    exceeds m rows per shard across checkpointed multi-batch drains;
    the planted heavy item is always tracked with the classic
    space-saving bracket (count >= true, count - err <= true); and a
    single-batch drain equals the batch twin exactly."""
    import os

    import pandas as pd

    from oa_spider_spark.streaming.topk import batch_topk, streaming_topk

    # shard 0: 'hot' x30 + 12 light items x2 — m=4 forces evictions
    rows = [(0, "hot")] * 30 + [
        (0, f"l{i:02d}") for i in range(12) for _ in range(2)
    ]
    # shard 1: tiny, under m — exact counts must come back verbatim
    rows += [(1, "x")] * 3 + [(1, "y")]
    df = spark.createDataFrame(rows, "shard long, item string")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # two INTERLEAVED slices so batch 2 merges into an already-full
    # summary (floor > 0 entry path) rather than an under-full one
    half = spark.createDataFrame(rows[::2], "shard long, item string")
    rest = spark.createDataFrame(rows[1::2], "shard long, item string")
    for k, part in enumerate([half, rest]):
        path = f"{in_dir}/slice{k}"
        part.coalesce(1).write.parquet(path)
        t = 1_700_000_000 + k * 10
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("shard long, item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    q = (
        streaming_topk(stream, item_col="item", shard_col="shard", m=4)
        .writeStream.format("memory")
        .queryName("topk_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snap = spark.sql(
        "SELECT * FROM topk_sink WHERE (shard, n_processed) IN "
        "(SELECT shard, max(n_processed) FROM topk_sink GROUP BY shard)"
    ).collect()
    s0 = {r["item"]: (r["count"], r["err"]) for r in snap if r["shard"] == 0}
    s1 = {r["item"]: (r["count"], r["err"]) for r in snap if r["shard"] == 1}
    assert len(s0) <= 4 and len(s1) <= 4
    # heavy item guaranteed tracked (true 30 > n/m = 54/4)
    cnt, err = s0["hot"]
    assert cnt >= 30 and cnt - err <= 30
    # under-m shard is exact
    assert s1 == {"x": (3, 0), "y": (1, 0)}
    # single-batch drain == batch twin (order-free merge of exact counts)
    pdf = pd.DataFrame(rows, columns=["shard", "item"])
    tw = batch_topk(pdf[pdf["shard"] == 0], "item", 4)
    assert set(tw) >= {"hot"} and tw["hot"][0] == 30
