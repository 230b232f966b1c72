#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` plus a real
crawl-engine round (seed → dedup → politeness → Arrow fetch/decode →
commit) over a synthetic frontier sized to the SF, and prints ONE JSON
line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "throughput": {...}}

Scaling evidence (N vs 4N cores, north_rule) is produced by
``scripts/scaling_bench.py`` which runs THIS file at two parallelism
levels in separate processes (Spark local mode pins cores per JVM) and
writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def infer_sf(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


HEADLINE = [
    "q_crawl_select",
    "q_budget_window",
    "q_topk_priority",
    "q_seen_antijoin",
    "q_digest_collect",
    "q_exact_dedup",
    "q_simhash",
    "q_cosine_topk",
    "q_token_count",
    "q_quality_score",
    "q_sessionize",
    "q_arrays_zip_join",
    "q_html_parse",
    "q_pricing_summary",
    "q_top_revenue",
    "q_pii_redact",
    "q_doc_chunks",
    "q_bm25_topk",
    "q_value_percentiles",
    "q_hll_distinct",
    "q_asof_prior_click",
    # q_incremental_dedup is NOT headlined: like q_minhash_lsh it runs
    # in portable-md5 oracle mode (28.8 s at sf0.1 vs the xxhash64
    # scale default) — benching the oracle path would misrepresent it
    "q_pagerank",
    # round-4 curation/graph additions (text-explode aggregates, the
    # capped co-occurrence triangle census, z-order key computation)
    "q_repetition_stats",
    "q_tfidf_top_terms",
    "q_triangle_count",
    "q_zorder_cluster",
    "q_scd2_history",
    "q_edit1_titles",
    "q_bloom_semi_join",
    "q_bigram_fluency",
    # round-5 curation/crawl additions (paragraph scrub + anchor index —
    # both linear keyed-shuffle shapes). q_prefix_jaccard is NOT
    # headlined: the synthetic corpus's flat ~900-bigram vocabulary is
    # the documented worst case for prefix filtering (every "rare"
    # token is common), so benching it here would measure the corpus,
    # not the operator; its correctness gate runs at sf0.01.
    "q_paragraph_dedup",
    "q_anchor_text",
    # X85/X86: global-sort-blocked SNM dedup (bucketed rank, 2x block
    # fan-out) and the eTLD+1 domain rollup (3 broadcast suffix joins)
    "q_snm_pairs",
    "q_domain_caps",
    # X100-X131 session additions, the distinct plan shapes: zero-shuffle
    # row-local rule banks, positional-ngram explode+agg, two-level
    # cell-rank admissions, broadcast-rule matching, sketch-fed control
    # loops, and the composed dashboard. NOT headlined: q_rendezvous_shards
    # (portable-md5 oracle mode — same reason as q_minhash_lsh) and
    # q_cross_doc_spans (anchor volume is corpus-vocabulary-dependent,
    # 25 s at sf0.1 measuring the synthetic vocab, not the operator).
    "q_gopher_rules",
    "q_repeated_spans",
    "q_fetch_timeline",
    "q_robots_wildcard",
    "q_byte_budget",
    "q_retention_cohorts",
    "q_host_dashboard",
    "q_render_routing",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # default to 16 of the 32 host cores: each Spark task drives a Python
    # worker AND JVM service threads (Arrow IPC, shuffle, parquet encode);
    # local[32] would oversubscribe the host and measure contention, not
    # the engine (see BENCH/BASELINE.md notes)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", min(16, os.cpu_count() or 8)))
    sf = infer_sf(sf_dir)

    # Host-capacity probe BEFORE and AFTER (VERDICT r02 item 2): this is a
    # shared VM with bursty CPU steal; a degraded number must carry its
    # own evidence inside the artifact. ~1.0 = healthy window.
    from oa_spider_spark.hostcap import capacity_probe

    probe_before = capacity_probe(cpus)

    from oa_spider_spark.session import get_spark

    # Event logging feeds the engine-side scaling metric (stage pareff/
    # skew) computed below — host-noise-free evidence alongside the
    # wall-clock numbers, in EVERY bench artifact (VERDICT r03 item 2).
    evdir = tempfile.mkdtemp(prefix="bench-events-")
    spark = get_spark(
        cores=cpus,
        app_name=f"bench_{cpus}",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            # the JVM console progress bar emits \r-framed lines that can
            # interleave with the final JSON in captured output (the r04
            # driver artifact failed to parse for exactly this reason)
            "spark.ui.showConsoleProgress": "false",
        },
    )

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    # Warm the JVM (classloading, codegen, parquet footer reads) and the
    # Python workers before timing — the first query otherwise absorbs
    # ~8 s of one-time startup that a long-lived cluster never sees.
    spark.range(0, cpus * 4, 1, cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    # warm EVERY headline query once so each timed run is a uniformly
    # warm second execution — warming only the first would hand that one
    # query a page-cache/codegen advantage and skew relative timings
    if not os.environ.get("SPARK_GRAFT_CRAWL_ONLY"):
        for name in HEADLINE:
            queries[name](spark, sf_dir).count()

    # Crawl-only mode (scaling-gate reps): the N vs 4N efficiency ratio
    # reads ONLY the crawl round's frontier_urls_per_sec — the query
    # preamble contributes nothing to it except wall-clock exposure to
    # host drift, which is exactly what kills healthy windows (see the
    # gated-attempt history in BENCH/BASELINE.md). scripts/scaling_bench.py
    # sets this; a plain `python bench.py` still runs everything.
    crawl_only = bool(os.environ.get("SPARK_GRAFT_CRAWL_ONLY"))

    timings: dict[str, float] = {}
    t_total0 = time.perf_counter()
    for name in HEADLINE if not crawl_only else ():
        q = queries[name]
        t0 = time.perf_counter()
        n = q(spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)
        assert n > 0, f"{name} returned 0 rows"

    # --- scale-mode dedup (VERDICT r03 item 3): the xxhash64 defaults a
    # cluster actually runs. The portable-md5 twins exist only so DuckDB
    # can value-check the pipeline (and are deliberately NOT headlined);
    # these time the real hot path. No query-registry entry: a different
    # hash family yields different LSH candidates, so there is no SQL
    # oracle — correctness of the shared pipeline is the portable twin's
    # job, throughput is this one's.
    if not crawl_only:
        from pyspark.sql import functions as F

        from oa_spider_spark.operators.dedup import (
            build_corpus_index,
            incremental_near_dups,
            minhash_dedup,
        )

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        for label, fn in (
            ("minhash_dedup_xxhash", lambda: minhash_dedup(docs, threshold=0.8)),
            (
                "incremental_dedup_xxhash",
                lambda: incremental_near_dups(
                    docs.filter(F.col("doc_id") % 5 == 0),
                    threshold=0.8,
                    corpus_index=build_corpus_index(
                        docs.filter(F.col("doc_id") % 5 != 0)
                    ),
                ),
            ),
        ):
            fn().count()  # warm like the headline queries
            t0 = time.perf_counter()
            fn().count()
            timings[label] = round(time.perf_counter() - t0, 3)

    # --- crawl-engine round throughput -----------------------------------
    from oa_spider_spark import datagen
    from oa_spider_spark.frontier.round import run_round, seed_catalog
    from oa_spider_spark.tables import Catalog

    # Round size: ~1.6M seed URLs at sf0.1. Per-round fixed cost (selection
    # windows, rank, snapshot commits) is ~19 s regardless of parallelism;
    # the design point is 10^8-URL rounds on a 1000-executor cluster, where
    # that cost is noise. The sandbox round must be big enough that it
    # doesn't dominate the scaling measurement the same way.
    n_seeds = int(os.environ.get("SPARK_GRAFT_SEEDS", max(2000, int(16_000_000 * sf))))
    n_hosts = 24

    # Stage on tmpfs: on a real N vs 4N cluster each executor writes to its
    # OWN local disk, so staging bandwidth scales with the cluster. The
    # sandbox has ONE shared virtio disk — staging there measures disk
    # writeback contention (observed: parquet writes degrading 5→29 s under
    # 32 concurrent writers), not engine scaling. tmpfs (128 GiB here)
    # stands in for per-executor disks; override with SPARK_GRAFT_STAGE_DIR.
    stage_base = os.environ.get(
        "SPARK_GRAFT_STAGE_DIR",
        "/dev/shm" if os.path.isdir("/dev/shm") else None,
    )

    # Warmup: a tiny throwaway round spins up every Python worker (pandas/
    # pyarrow imports, ~0.3 s/core once per executor) and JIT-compiles the
    # codegen'd stages. Steady-state throughput is the metric — a real
    # cluster amortizes worker startup over thousands of rounds.
    with tempfile.TemporaryDirectory(prefix="bench_warm_", dir=stage_base) as root:
        warm_cat = Catalog(root)
        seed_catalog(spark, warm_cat, datagen.seed_frontier_df(
            spark, 4000, n_hosts=n_hosts, hot_share=0.4, partitions=cpus * 2))
        run_round(spark, warm_cat, 0, n_hosts=n_hosts,
                  default_budget=4000 // n_hosts, partitions=cpus * 2)

    with tempfile.TemporaryDirectory(prefix="bench_cat_", dir=stage_base) as root:
        cat = Catalog(root)
        seed_catalog(spark, cat, datagen.seed_frontier_df(
            spark, n_seeds, n_hosts=n_hosts, hot_share=0.4, partitions=cpus * 2))
        t0 = time.perf_counter()
        crawl_t0_epoch_ms = time.time() * 1000
        phases: dict[str, float] = {}
        res = run_round(
            spark, cat, 0, n_hosts=n_hosts,
            default_budget=max(200, n_seeds // n_hosts),
            partitions=cpus * 2,
            timings=phases,
        )
        crawl_sec = time.perf_counter() - t0
        crawl_t1_epoch_ms = time.time() * 1000
    timings["crawl_round"] = round(crawl_sec, 3)
    throughput = {
        "frontier_urls_per_sec": round(res.selected / crawl_sec, 1),
        "fetched_images_per_sec": round(res.fetched_ok / crawl_sec, 1),
        "payload_mb_per_sec": round(res.bytes_fetched / crawl_sec / 1e6, 2),
        "selected": res.selected,
        "fetched_ok": res.fetched_ok,
        "cpus": cpus,
    }

    # --- streaming twin throughput (VERDICT r03 item 7, r04 item 4):
    # drain the same selection/fetch pipeline through Structured
    # Streaming (AvailableNow) and report URLs/s next to the batch round
    # — correctness parity is pinned in tests/test_streaming.py. Sized
    # EQUAL to the batch round (apples-to-apples: the r04 quarter-size
    # drain amplified per-epoch fixed cost 4× and misread as a scaling
    # gap); per-epoch phase seconds ride the JSON so any future gap is
    # attributable without a profiling session.
    from oa_spider_spark.streaming.rounds import streaming_crawl

    n_stream = int(os.environ.get("SPARK_GRAFT_STREAM_SEEDS", n_seeds))
    if crawl_only:
        n_stream = 0
    with tempfile.TemporaryDirectory(prefix="bench_stream_", dir=stage_base) as sroot:
        in_dir, ckpt = f"{sroot}/in", f"{sroot}/ckpt"
        if n_stream:
            datagen.seed_frontier_df(
                spark, n_stream, n_hosts=n_hosts, hot_share=0.4, partitions=cpus * 2
            ).repartition(8).write.parquet(f"{in_dir}/slice0")
            scat = Catalog(f"{sroot}/cat")
            epoch_log: list = []
            t0 = time.perf_counter()
            q = streaming_crawl(
                spark, scat, in_dir + "/*", ckpt,
                n_hosts=n_hosts, default_budget=max(200, n_stream // n_hosts),
                epoch_log=epoch_log, partitions=cpus * 2,
            )
            q.awaitTermination(1800)
            stream_sec = time.perf_counter() - t0
            fetched_tbl = scat.read(spark, "fetched")
            n_drained = fetched_tbl.count() if fetched_tbl is not None else 0
            throughput["streaming"] = {
                "urls_per_sec": round(n_drained / stream_sec, 1),
                "drained": n_drained,
                "epochs": len(scat.committed_rounds()),
                "seconds": round(stream_sec, 3),
                # streaming-vs-batch throughput ratio at the same per-URL work
                "vs_batch_round": round(
                    (n_drained / stream_sec) / max(res.selected / crawl_sec, 1e-9), 3
                ),
                "epoch_phases": epoch_log,
            }

    total = round(time.perf_counter() - t_total0, 3)
    probe_after = capacity_probe(cpus)

    # --- engine-side scaling metric: stage pareff/skew from the event
    # log, scoped to the crawl round (the workload the north-rule gate
    # measures). spark.stop() flushes the log.
    app_id = spark.sparkContext.applicationId
    spark.stop()
    from oa_spider_spark.evlog import dominant_stage, stage_task_stats

    try:
        crawl_stages = stage_task_stats(
            evdir, app_id, n_slots=cpus,
            t_min_ms=crawl_t0_epoch_ms, t_max_ms=crawl_t1_epoch_ms,
        )
        dom = dominant_stage(crawl_stages)
        stage_pareff = {
            # pareff of the stage carrying the most task time — the
            # engine-side ceiling on N→4N scaling efficiency
            "dominant_pareff": dom["pareff"] if dom else None,
            "dominant_skew": dom["skew"] if dom else None,
            "dominant_stage": dom["name"] if dom else None,
            "min_pareff": min((s["pareff"] for s in crawl_stages), default=None),
            "stages": [
                {k: s[k] for k in ("name", "n_tasks", "skew", "pareff", "sum_ms")}
                for s in sorted(crawl_stages, key=lambda s: -s["sum_ms"])[:6]
            ],
        }
    except Exception as exc:  # missing/renamed log must not kill the bench
        stage_pareff = {"error": str(exc)[:200]}
    finally:
        import shutil

        shutil.rmtree(evdir, ignore_errors=True)
    result_line = json.dumps(
            {
                "metric": "headline queries + one crawl round, wall seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "throughput": throughput,
                # per-phase seconds of the crawl round (select = plan
                # building; fetch_stage = selection + Arrow fetch +
                # staging write; derived_stage = links/retries/seen/
                # lineage writes; commit = the commit-log append)
                "crawl_phases": phases,
                # host-noise-free engine evidence: task-balance of the
                # crawl round's stages (pareff = engine-side scaling
                # ceiling; see oa_spider_spark/evlog.py)
                "stage_pareff": stage_pareff,
                # ~1.0 = healthy host window; << 1.0 = hypervisor steal,
                # interpret wall-clock accordingly (CLAUDE.md gotchas)
                "capacity_probe": {
                    "before": probe_before,
                    "after": probe_after,
                    "procs": cpus,
                },
            }
        )
    # Parse-safe emission (VERDICT r04 item 5): any stray \r-framed JVM
    # output interleaved into a combined-stream capture breaks line-based
    # JSON parsing. Flush stderr first, start the JSON at column 0 of a
    # fresh line, and persist a byte-identical copy next to this script so
    # the artifact survives even a mangled stdout capture.
    result_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_RESULT.json"
    )
    with open(result_path, "w") as fh:
        fh.write(result_line + "\n")
    sys.stderr.flush()
    sys.stdout.write("\n" + result_line + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    sys.exit(main())
