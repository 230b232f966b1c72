"""One crawl round as one DataFrame job (SURVEY.md §3.4), plus the
multi-round driver with exact resume.

Round pipeline::

    frontier (committed) ─ dedup by url_hash (latest attempt wins)
      → anti-join seen  (Bloom prefilter + exact left_anti)      J2
      → broadcast hosts join + robots gate                        J3/T5
      → per-host budget window                                    O4
      → global order + limit → fetch_order                        O1-O3
      → salted repartition → mapInArrow fetch                     S6-S8
      → stage ONCE to parquet (round totals observed on the write),
        then column-pruned re-reads derive:
          · new frontier rows (explode links, canon, priority)    exploded
          · retry rows (attempt+1), one frontier snapshot with ↑  T2
            (+ unselected candidates as backlog when the frontier is
            passed in: a streaming micro-batch, streaming/rounds.py)
          · seen appends (ok + fatal url_hashes)                  §1.3
          · per-partition lineage                                 T4
      → atomic commit of all appends                              tables.py

The single staging write is deliberate: the expensive Arrow fetch output
materializes exactly once; every derived append re-reads the staged
parquet with column pruning (the `links`/`url_hash` reads never touch the
`bytes` column). At 100 TB that is the difference between one pass and
four.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_HOST_BUDGET, MAX_ATTEMPTS
from ..tables import Catalog
from .canon import with_url_columns
from .fetch import fetch_stage
from .politeness import (
    budget_and_order,
    robots_allowed,
    salted_repartition,
)
from .seen import (
    SEEN_INDEX_MIN,
    anti_join_seen,
    read_bloom_index,
    update_bloom_index,
)

FRONTIER_DDL = (
    "url string, url_canon string, url_hash long, host string, kind string, "
    "priority int, created_ms long, depth int, attempt int, round_added int"
)
FRONTIER_COLS = [field.split()[0] for field in FRONTIER_DDL.split(", ")]
SEEN_DDL = "url_hash long, url_canon string, status string, round_seen int"


def normalize_frontier(spark: SparkSession, rows: list[dict], round_added: int = 0) -> DataFrame:
    """Seed rows (datagen.seed_frontier_rows dicts) → frontier DataFrame
    with canonical URL columns attached JVM-side."""
    base = spark.createDataFrame(
        [
            (r["url"], r["kind"], int(r["priority"]), int(r["created_ms"]),
             int(r["depth"]), int(r["attempt"]), round_added)
            for r in rows
        ],
        "url string, kind string, priority int, created_ms long, depth int, "
        "attempt int, round_added int",
    )
    return with_url_columns(base).select(*FRONTIER_COLS)


def dedup_frontier(frontier: DataFrame) -> DataFrame:
    """One row per url_hash; the highest-(attempt, round_added, priority)
    row wins so a URL re-queued for retry carries its attempt count (T2).

    groupBy + max_by, not a row_number window: the aggregate runs a
    partial max_by on the map side, so duplicates collapse before the
    shuffle — at 10^10 frontier rows this is the round's biggest shuffle.
    It executes as a SortAggregate (sort by url_hash, then aggregate) on
    both sides of the exchange, not a HashAggregate: max_by over a struct
    holding strings has no fixed-width buffer. Remaining ties are exact
    duplicates (equal url_hash ⇒ equal url ⇒ every derived column equal),
    so max_by's arbitrary pick is still deterministic row-content-wise."""
    cols = frontier.columns
    key = F.struct(F.col("attempt"), F.col("round_added"), F.col("priority"))
    rest = [c for c in cols if c != "url_hash"]
    return (
        frontier.groupBy("url_hash")
        .agg(F.max_by(F.struct(*rest), key).alias("_r"))
        .select("url_hash", *[F.col(f"_r.{c}").alias(c) for c in rest])
        .select(*cols)
    )


@dataclass
class RoundResult:
    round_id: int
    selected: int
    fetched_ok: int
    retried: int
    failed: int
    new_links: int
    bytes_fetched: int


def links_to_frontier(staged: DataFrame, round_id: int) -> DataFrame:
    """Explode ok-rows' outlinks into new frontier rows. Link priority /
    created_ms are pure crc32 expressions matching datagen.link_priority
    (both sides JVM-computable AND Python-computable for the simulator).
    One select builds every column (a withColumn chain re-analyzes the
    plan once per call)."""
    links = with_url_columns(
        staged.filter(F.col("status") == "ok")
        .select(F.explode("links").alias("url"), F.col("depth").alias("parent_depth"))
    )
    seed = F.crc32(F.encode(F.col("url_canon"), "utf-8")).bitwiseXOR(F.lit(42)).bitwiseAND(F.lit(0x7FFFFFFF))
    cols = {
        "kind": F.element_at(F.split(F.col("url_canon"), "/"), 4),
        "priority": F.pmod(seed, F.lit(100)).cast("int"),
        "created_ms": (F.lit(1_600_000_000_000) + F.pmod(seed, F.lit(10_000_000))).cast("long"),
        "depth": (F.col("parent_depth") + 1).cast("int"),
        "attempt": F.lit(0),
        "round_added": F.lit(round_id),
    }
    return links.select(*[cols[c].alias(c) if c in cols else F.col(c) for c in FRONTIER_COLS])


def _write_back_links(
    spark: SparkSession, links: DataFrame, links_out_dir: str, round_id: int
) -> DataFrame:
    """Write the round's links once to `links_out_dir/links_epoch_<id>`
    and return them read back from there (never recomputed: a second
    evaluation would re-run the staged-fetch scan + explode/canonicalize
    pass).

    The write goes under a '_'-prefixed dir (hidden to Spark file
    listings, so a stream source over `links_out_dir` never snapshots the
    parts) and is then atomically renamed into place. Overwriting the
    epoch dir in place on replay would DELETE part files a restarted
    AvailableNow source may already have listed as pending input, failing
    the whole drain on missing files; with the rename, a replay finds the
    dir complete and skips the rewrite (content is deterministic per
    round). Local-fs rename; an object-store deployment would use a
    manifest commit instead."""
    dest = f"{links_out_dir}/links_epoch_{round_id}"
    if not os.path.exists(dest):
        staging = f"{links_out_dir}/_staging/links_epoch_{round_id}"
        links.write.mode("overwrite").parquet(staging)
        os.rename(staging, dest)
    return spark.read.schema(FRONTIER_DDL).parquet(dest)


def run_round(
    spark: SparkSession,
    catalog: Catalog,
    round_id: int,
    *,
    frontier: DataFrame | None = None,
    n_hosts: int = 20,
    default_budget: int = DEFAULT_HOST_BUDGET,
    round_limit: int | None = None,
    max_depth: int = 2,
    seen_index_min: int | None = None,
    hosts_table: DataFrame | None = None,
    partitions: int | None = None,
    links_out_dir: str | None = None,
    timings: dict | None = None,
) -> RoundResult:
    """`frontier=None` (default) reads the committed frontier table. A
    passed-in frontier (a streaming micro-batch) is not in the catalog,
    so its candidates that miss the budget are re-queued as backlog in
    the round's frontier snapshot, next to links and retries.

    `links_out_dir`, when set, also writes the round's links to
    `links_out_dir/links_epoch_<round_id>` before the commit
    (`_write_back_links`): pointed inside a stream's input glob, the next
    drain crawls one hop deeper.

    `timings`, when a dict is passed, is filled with per-phase wall
    seconds (select/fetch_stage/derived_stage/commit) so bench
    regressions are attributable without a separate profiling session
    (VERDICT r02 item 6). Phases are split at the EAGER points — plan
    building is lazy, so each phase's number is the materialization it
    triggers, which is also how a cluster would account it.

    The seen index follows one rule, read from the catalog: a fresh
    persisted Bloom index gates the seen anti-join; with none the round
    does a plain left_anti. The round builds the index once cumulative
    seen reaches `seen_index_min` (None = seen.SEEN_INDEX_MIN, the
    measured ~2×10⁷ probe breakeven; below it shard upkeep is pure
    overhead) and keeps an existing index fresh every round (a skipped
    update would strand it stale — read_bloom_index discards anything
    older than the last seen commit)."""
    import time as _time

    _t0 = _time.perf_counter()

    def _mark(key: str) -> None:
        nonlocal _t0
        if timings is not None:
            now = _time.perf_counter()
            timings[key] = round(now - _t0, 3)
            _t0 = now

    requeue_backlog = frontier is not None
    # known schemas: no parquet schema-inference job per read
    if frontier is None:
        frontier = catalog.read(spark, "frontier", schema=FRONTIER_DDL)
    if frontier is None:
        raise ValueError("frontier is empty — seed it before round 0")
    seen = catalog.read(spark, "seen", schema=SEEN_DDL)

    # --- selection (all JVM-side, ahead of the opaque fetch stage) -------
    # The persisted Bloom index (maintained below, per-round OR of the
    # seen delta) gates the anti-join so the seen table is never re-hashed
    # per round; its meta carries n_items so no count job runs either.
    bloom_index = read_bloom_index(spark, catalog)
    # running seen count from commit-log metadata (index meta when one
    # exists): feeds the maintenance decision below with ZERO count jobs.
    # None = legacy log, fall back.
    n_seen_before = (
        bloom_index[1].n_items
        if bloom_index is not None
        else catalog.cumulative_count("seen")
    )
    active = dedup_frontier(frontier).filter(F.col("depth") <= max_depth)
    active = anti_join_seen(
        active, seen, use_bloom=bloom_index is not None, index=bloom_index
    )
    active = robots_allowed(active, hosts_table)
    selected_full = budget_and_order(active, default_budget, round_limit)
    candidates = selected_full._ordered_cache  # the persisted budget input
    selected = selected_full.drop(
        "budget_per_round", "crawl_delay_ms", "robots_disallow", "proxy"
    )
    _mark("select")  # plan building only: the selection runs inside the fetch job

    # --- fetch (single materialization) ----------------------------------
    nparts = partitions or spark.sparkContext.defaultParallelism
    fetch_in = salted_repartition(selected, nparts)
    fetched = fetch_stage(fetch_in, n_hosts=n_hosts).withColumn(
        "partition_id", F.spark_partition_id()
    ).withColumn("round", F.lit(round_id))
    # round totals ride the staging write as an Observation: no re-read of
    # the staged output or of the lineage table just to sum them
    totals_obs = Observation(f"fetched_r{round_id}")
    status = F.col("status")
    staged_fetch_path = catalog.stage(
        fetched.observe(
            totals_obs,
            F.count(F.lit(1)).alias("selected"),
            F.sum((status == "ok").cast("long")).alias("ok"),
            F.sum((status == "retry").cast("long")).alias("retry"),
            F.sum((status == "failed").cast("long")).alias("failed"),
            F.sum("nbytes").alias("bytes"),
        ),
        "fetched", round_id,
    )
    if not requeue_backlog:  # else the backlog below still reads it
        candidates.unpersist()
    # the schema just written: reading it back needs no inference job
    staged = spark.read.schema(fetched.schema).parquet(staged_fetch_path)
    _mark("fetch_stage")

    # --- derived appends (column-pruned reads of the staged output) ------
    new_frontier = links_to_frontier(
        staged.select("status", "links", "depth"), round_id
    ).filter(F.col("depth") <= max_depth)

    retries = staged.filter(
        (F.col("status") == "retry") & (F.col("attempt") + 1 < MAX_ATTEMPTS)
    ).select(
        *[c for c in FRONTIER_COLS if c not in ("attempt", "round_added")],
        (F.col("attempt") + 1).alias("attempt"),
        F.lit(round_id + 1).alias("round_added"),
    )

    # seen = processed-and-done: ok + fatal + retry-exhausted (the
    # reference marks read only after successful processing, oa.py:384;
    # fatal rows are done-by-failure and go to the dead-letter view)
    seen_append = (
        staged.filter(
            (F.col("status") == "ok")
            | (F.col("status") == "failed")
            | ((F.col("status") == "retry") & (F.col("attempt") + 1 >= MAX_ATTEMPTS))
        )
        .select("url_hash", "url_canon", F.col("status"), F.lit(round_id).alias("round_seen"))
    )

    # nbytes (computed in the fetch stage) keeps these aggregations off
    # the binary column — no full payload re-scan per round. Per-partition
    # lineage carries the full status taxonomy for exact resume audits.
    lineage = (
        staged.groupBy("partition_id")
        .agg(
            F.count("*").alias("rows_in"),
            F.sum((F.col("status") == "ok").cast("long")).alias("rows_out"),
            F.sum((F.col("status") == "retry").cast("long")).alias("rows_retry"),
            F.sum((F.col("reason") == "timeout").cast("long")).alias("rows_timeout"),
            F.sum((F.col("status") == "failed").cast("long")).alias("rows_failed"),
            F.coalesce(F.sum("nbytes"), F.lit(0)).alias("bytes_fetched"),
        )
        .withColumn("round", F.lit(round_id))
    )

    if links_out_dir is not None:
        new_frontier = _write_back_links(spark, new_frontier, links_out_dir, round_id)

    # the link count rides the frontier staging write as an Observation —
    # no second scan of the new-frontier snapshot just to count it (and
    # the seen-delta count rides its write the same way, for the Bloom
    # meta). It sits on the frame that write reads, never on the
    # links-dir write, which a replayed round skips.
    links_obs = Observation(f"links_r{round_id}")
    new_frontier = new_frontier.observe(links_obs, F.count(F.lit(1)).alias("n"))
    seen_obs = Observation(f"seen_r{round_id}")
    seen_append = seen_append.observe(seen_obs, F.count(F.lit(1)).alias("n"))

    # links + retries (+ backlog) are ONE frontier snapshot: one write job
    # and one output commit instead of two or three
    frontier_append = new_frontier.unionByName(retries)
    if requeue_backlog:
        # unselected candidates, keyed off the STAGED fetch output:
        # joining `selected` would re-run the budget windows a second time
        frontier_append = frontier_append.unionByName(
            candidates.select(*FRONTIER_COLS).join(
                staged.select("url_hash"), "url_hash", "left_anti"
            )
        )
    staged_paths = {
        "fetched": [staged_fetch_path],
        "frontier": [catalog.stage(frontier_append, "frontier", round_id)],
        "seen": [catalog.stage(seen_append, "seen", round_id)],
        "lineage": [catalog.stage(lineage, "lineage", round_id)],
    }
    if requeue_backlog:
        candidates.unpersist()
    delta_seen = seen_obs.get["n"]
    threshold = seen_index_min if seen_index_min is not None else SEEN_INDEX_MIN
    if n_seen_before is None and seen is not None:
        n_seen_before = seen.count()  # legacy log without counts: one job
    if bloom_index is not None or (n_seen_before or 0) + delta_seen >= threshold:
        # OR this round's delta into the persisted shards; committed in
        # the SAME round entry so index and rows stay atomic together
        staged_paths.update(
            update_bloom_index(
                spark, catalog, round_id, staged_paths["seen"],
                delta_count=delta_seen,
            )
        )
    _mark("derived_stage")
    # the seen count rides the commit entry so the NEXT round's
    # maintenance decision reads the log, not the table
    catalog.commit_round(round_id, staged_paths, counts={"seen": delta_seen})
    _mark("commit")
    totals = totals_obs.get
    return RoundResult(
        round_id,
        totals["selected"],
        totals["ok"] or 0,
        totals["retry"] or 0,
        totals["failed"] or 0,
        links_obs.get["n"],
        totals["bytes"] or 0,
    )


def seed_catalog(
    spark: SparkSession, catalog: Catalog, rows: list[dict] | DataFrame
) -> None:
    """Round -1 'genesis' commit: the seed list (reference's configured
    sites/listing endpoints, run.py:79-86). Accepts either Python seed
    rows (small/simulator-paired runs) or an already-distributed frontier
    DataFrame (datagen.seed_frontier_df — the scale path)."""
    df = rows if isinstance(rows, DataFrame) else normalize_frontier(spark, rows, round_added=0)
    catalog.commit_round(-1, {"frontier": [catalog.stage(df, "frontier", 0)]})


# compaction commits use their own round-id space so they never collide
# with crawl rounds (streaming already reserves 10_000+)
COMPACT_ROUND_BASE = 20_000


def compact_frontier(spark: SparkSession, catalog: Catalog, round_id: int) -> None:
    """Rewrite the frontier table to exactly its live selection input:
    one row per url_hash (highest attempt/round/priority wins — the same
    max_by as dedup_frontier, so later dedups are unchanged by max_by
    associativity) minus URLs already seen (monotone, so dropping them
    is safe forever).

    Without this the frontier accumulates every link ever discovered and
    each round's dedup re-reads the full history — the same
    corpus-lifetime cost the Bloom index removes from the seen side. A
    compacted frontier is proportional to the CRAWL HORIZON (pending
    URLs), not to crawl history. Old snapshots stay on disk for
    time-travel (Iceberg rewrite-files semantics; expire separately).

    On the bucketed layout the rewrite is also the re-cluster: the
    compacted snapshot lands sorted into url_hash buckets, keeping the
    zero-exchange selection plan."""
    frontier = catalog.read(spark, "frontier", schema=FRONTIER_DDL)
    if frontier is None:
        return
    compacted = dedup_frontier(frontier)
    seen = catalog.read(spark, "seen", schema=SEEN_DDL)
    if seen is not None:
        compacted = compacted.join(seen.select("url_hash"), "url_hash", "left_anti")
    path = catalog.stage(compacted, "frontier", round_id)
    catalog.commit_round(round_id, {"frontier": [path]}, replaces=["frontier"])


def run_crawl(
    spark: SparkSession,
    catalog: Catalog,
    n_rounds: int,
    compact_every: int | None = None,
    **round_kwargs,
) -> list[RoundResult]:
    """Multi-round driver with exact resume: rounds already in the commit
    log are never re-run (idempotent restart, north_rule T4; the
    reference's analog is the pid-pickle guard, oa-spider.py:14-27).

    `compact_every=k` rewrites the frontier after every k-th round
    (skipped on resume if that compaction already committed)."""
    done = set(catalog.committed_rounds())
    results = []
    for r in range(n_rounds):
        if r not in done:
            results.append(run_round(spark, catalog, r, **round_kwargs))
        if (
            compact_every
            and (r + 1) % compact_every == 0
            and COMPACT_ROUND_BASE + r not in done
        ):
            compact_frontier(spark, catalog, COMPACT_ROUND_BASE + r)
    return results
