#!/usr/bin/env python
"""Seen-set scale evidence (VERDICT r03 item 1 'done' criterion).

Pre-seeds a bucketed catalog (seen/frontier CLUSTERED BY url_hash) with
a SEEN_N-row synthetic seen corpus plus its persisted Bloom index
(default SEEN_N = 2×10^7, which meets SEEN_INDEX_MIN), then runs 3
consecutive crawl rounds at their defaults and records the seen-path
cost per round: the round probes the fresh index and confirms its
maybe-set with an exchange-free join, so per-round cost is O(round
delta) hash work, not corpus lifetime. The r03 comparison arm (shards
rebuilt from the full seen table every round) is no longer a mode
`run_round` can run; its numbers stay in BENCH/BASELINE.md.

Output: one JSON line of per-round seconds. Flatness check: round 3's
seen path must not exceed round 1's by more than the noise band.

Usage: SEEN_N=20000000 SPARK_GRAFT_CPUS=16 python scripts/seen_scale_bench.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def synth_seen(spark, n: int):
    """Synthetic already-seen corpus: hashes disjoint from real URL
    hashes by construction (different preimage universe), so every
    frontier URL is genuinely new — the probe exercises the
    definitely-new fast path plus Bloom false positives, exactly the
    steady-state recrawl shape."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.xxhash64(F.concat(F.lit("synth:"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("https://synth.example/x/"), F.col("id")).alias("url_canon"),
        F.lit("ok").alias("status"),
        F.lit(-1).alias("round_seen"),
    )


def run(seen_n: int, n_seeds: int, cpus: int, stage_base: str) -> dict:
    from oa_spider_spark import datagen
    from oa_spider_spark.frontier.round import dedup_frontier, run_round
    from oa_spider_spark.frontier.seen import (
        anti_join_seen,
        read_bloom_index,
        update_bloom_index,
    )
    from oa_spider_spark.session import get_spark
    from oa_spider_spark.tables import SCALE_LAYOUT, Catalog

    spark = get_spark(cores=cpus, app_name="seen_scale", shuffle_partitions=32)
    n_hosts = 24
    out: dict = {"seen_n": seen_n, "n_seeds": n_seeds, "cpus": cpus}
    with tempfile.TemporaryDirectory(prefix="seen_scale_", dir=stage_base) as root:
        cat = Catalog(root, bucketed=SCALE_LAYOUT)
        # instrument staging so the index-maintenance cost inside the
        # round is attributable (it happens in the derived phase)
        stage_times: dict[str, list[float]] = {}
        orig_stage = cat.stage

        def timed_stage(df, table, round_id):
            t0 = time.perf_counter()
            p = orig_stage(df, table, round_id)
            stage_times.setdefault(table, []).append(
                round(time.perf_counter() - t0, 2)
            )
            return p

        cat.stage = timed_stage

        # genesis commit: frontier seeds + the big synthetic seen corpus
        t0 = time.perf_counter()
        seeds = datagen.seed_frontier_df(
            spark, n_seeds, n_hosts=n_hosts, hot_share=0.4, partitions=cpus * 2
        )
        staged = {
            "frontier": [cat.stage(seeds, "frontier", 0)],
            "seen": [cat.stage(synth_seen(spark, seen_n), "seen", 0)],
        }
        # initial index build: the one full-corpus pass (amortized —
        # every later round ORs only its delta)
        t_idx = time.perf_counter()
        staged.update(
            update_bloom_index(spark, cat, -1, staged["seen"], delta_count=seen_n)
        )
        out["initial_index_build_sec"] = round(time.perf_counter() - t_idx, 2)
        cat.commit_round(-1, staged)
        out["genesis_sec"] = round(time.perf_counter() - t0, 2)
        stage_times.clear()

        # THE metric: what the selection pays per round to answer
        # "which frontier rows are new?" — the round's own seen step
        # (fresh-index probe + exchange-free confirm join), measured as
        # an explicit materialization so it cannot hide in the fetch phase
        seen_path, totals = [], []
        for r in range(3):
            frontier = cat.read(spark, "frontier")
            seen = cat.read(spark, "seen")
            idx = read_bloom_index(spark, cat)
            t0 = time.perf_counter()
            n_new = anti_join_seen(
                dedup_frontier(frontier), seen, use_bloom=idx is not None, index=idx
            ).count()
            seen_path.append(round(time.perf_counter() - t0, 2))
            out["survivors"] = n_new
            t0 = time.perf_counter()
            run_round(
                spark, cat, r,
                n_hosts=n_hosts,
                default_budget=max(200, n_seeds // (3 * n_hosts)),
                partitions=cpus * 2,
                timings={},
            )
            totals.append(round(time.perf_counter() - t0, 2))
        out["seen_path_sec_per_round"] = seen_path
        out["round_total_sec"] = totals
        out["index_maintenance_sec_per_round"] = [
            round(a + b, 2)
            for a, b in zip(
                stage_times.get("bloom_shards", []),
                stage_times.get("bloom_meta", []),
            )
        ]
        out["flat_last_vs_first"] = round(seen_path[-1] / max(seen_path[0], 1e-9), 2)
        cat.cleanup_session(spark)
    spark.stop()
    return out


def main() -> None:
    seen_n = int(os.environ.get("SEEN_N", 20_000_000))
    n_seeds = int(os.environ.get("N_SEEDS", 300_000))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 16))
    stage_base = os.environ.get(
        "SPARK_GRAFT_STAGE_DIR", "/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    print(json.dumps(run(seen_n, n_seeds, cpus, stage_base)), flush=True)


if __name__ == "__main__":
    main()
