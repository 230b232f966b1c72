"""The traced run: one crawl round re-wired layer by layer from outside.

`run_round` is lazy between its eager points, so its own phase timings
book selection work under the fetch phase. Here each layer's public
functions are called in the same order as `run_round`, and each layer's
output is materialized once (`spark_env.materialize`, or the layer's own
staging write) inside a span named after it, with a Spark job description
of the same name. Spans stay in memory and are written out when the run
ends. Per-layer task skew and shuffle bytes come from the Spark event log,
matched to spans by task launch time.
"""

from __future__ import annotations

import json
import statistics
import time
import zlib
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oa_spider_spark import datagen
from oa_spider_spark.config import MAX_ATTEMPTS
from oa_spider_spark.evlog import dominant_stage, event_log_paths, stage_task_stats
from oa_spider_spark.frontier.fetch import fetch_stage, synthetic_fetch_batch
from oa_spider_spark.frontier.politeness import budget_and_order, robots_allowed, salted_repartition
from oa_spider_spark.frontier.round import (
    COMPACT_ROUND_BASE,
    FRONTIER_COLS,
    compact_frontier,
    dedup_frontier,
    links_to_frontier,
)
from oa_spider_spark.frontier.seen import (
    BLOOM_MIN_CAPACITY,
    SEEN_INDEX_MIN,
    anti_join_seen,
    bloom_params,
    build_bloom_shards,
    mark_maybe_seen,
)
from oa_spider_spark.kernels.codec import average_hash, encode_image

from .spark_env import counted, materialize

BLOOM_SHARDS = 64  # seen.update_bloom_index's default shard count


@dataclass
class Span:
    name: str
    parent: str | None
    op: int
    start: float  # time.perf_counter()
    end: float
    start_ms: float  # epoch ms, comparable with Spark task launch times
    end_ms: float
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op = 0
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Time the block as layer `name`; the Spark jobs it runs carry the
        name as their description. Yields a dict for the layer's counts."""
        parent = self._stack[-1] if self._stack else None
        counts: dict = {}
        self._stack.append(name)
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        t0, e0 = time.perf_counter(), time.time() * 1000
        try:
            yield counts
        finally:
            t1, e1 = time.perf_counter(), time.time() * 1000
            self._stack.pop()
            sc.setJobDescription(parent)
            self.spans.append(Span(name, parent, self.op, t0, t1, e0, e1, counts))

    def last(self, name: str) -> Span:
        return next(s for s in reversed(self.spans) if s.name == name)

    def write(self, path: Path, context: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = [dict(asdict(s), self_s=v) for s, v in zip(self.spans, self_seconds(self.spans))]
        path.write_text(json.dumps({"context": context, "spans": spans}, indent=1))


def self_seconds(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its child spans cover.
    Children of one parent run one after another on the driver thread."""
    return [
        s.seconds - sum(c.seconds for c in spans if c.op == s.op and c.parent == s.name)
        for s in spans
    ]


@dataclass
class TracedRound:
    funnel: dict[str, int]  # compared against the untraced RoundResult
    timeouts: int
    bytes_fetched: int
    staged_paths: dict[str, list[str]]
    dedup_out: DataFrame  # cached; the caller unpersists it


def traced_round(tracer: Tracer, catalog, round_id: int, *, n_hosts: int, budget: int,
                 partitions: int, max_depth: int = 2) -> TracedRound:
    """`run_round` with its default policies, one materialization per layer."""
    spark = tracer.spark
    with tracer.span("round"):
        frontier = catalog.read(spark, "frontier")
        seen = catalog.read(spark, "seen")
        n_seen_before = catalog.cumulative_count("seen") or 0

        with tracer.span("dedup") as c:
            frontier, rows_in = counted(frontier)
            dedup_out, c["rows_out"] = materialize(
                dedup_frontier(frontier).filter(F.col("depth") <= max_depth)
            )
            c["rows_in"] = int(rows_in.get["n"])

        with tracer.span("seen") as c:
            active, c["rows_out"] = materialize(
                anti_join_seen(dedup_out, seen, use_bloom="auto", est_seen=n_seen_before)
            )

        with tracer.span("budget") as c:
            c["rows_in"] = tracer.last("seen").counts["rows_out"]
            full = budget_and_order(robots_allowed(active, None), budget, None)
            selected, c["rows_out"] = materialize(
                full.drop("budget_per_round", "crawl_delay_ms", "robots_disallow", "proxy")
            )
            full._ordered_cache.unpersist()
            active.unpersist()

        with tracer.span("fetch") as c:
            fetched = (
                fetch_stage(salted_repartition(selected, partitions, None), n_hosts=n_hosts)
                .withColumn("partition_id", F.spark_partition_id())
                .withColumn("round", F.lit(round_id))
            )
            fetched, c["rows"] = materialize(fetched)

        with tracer.span("stage.fetched"):
            staged_paths = {"fetched": [catalog.stage(fetched, "fetched", round_id)]}
            fetched.unpersist()
            selected.unpersist()
            staged = spark.read.parquet(staged_paths["fetched"][0])

        with tracer.span("links") as c:
            links, links_obs = counted(
                links_to_frontier(staged.select("status", "links", "depth"), round_id)
                .filter(F.col("depth") <= max_depth)
            )
            staged_paths["frontier"] = [catalog.stage(links, "frontier", round_id)]
            c["rows_out"] = int(links_obs.get["n"])

        with tracer.span("stage.derived"):
            retries = (
                staged.filter((F.col("status") == "retry") & (F.col("attempt") + 1 < MAX_ATTEMPTS))
                .select(*[x for x in FRONTIER_COLS if x not in ("attempt", "round_added")],
                        (F.col("attempt") + 1).alias("attempt"))
                .withColumn("round_added", F.lit(round_id + 1))
                .select(*FRONTIER_COLS)
            )
            seen_append, seen_obs = counted(
                staged.filter(
                    (F.col("status") == "ok")
                    | (F.col("status") == "failed")
                    | ((F.col("status") == "retry") & (F.col("attempt") + 1 >= MAX_ATTEMPTS))
                ).select("url_hash", "url_canon", "status", F.lit(round_id).alias("round_seen"))
            )
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
            staged_paths["frontier"].append(catalog.stage(retries, "frontier", round_id))
            staged_paths["seen"] = [catalog.stage(seen_append, "seen", round_id)]
            staged_paths["lineage"] = [catalog.stage(lineage, "lineage", round_id)]
            delta_seen = int(seen_obs.get["n"])

        if n_seen_before + delta_seen >= SEEN_INDEX_MIN:
            # run_round(maintain_bloom="auto") would maintain the index here
            raise ValueError("workload is past SEEN_INDEX_MIN; the traced round does not mirror index upkeep")

        with tracer.span("commit"):
            catalog.commit_round(round_id, staged_paths, counts={"seen": delta_seen})
            t = (
                spark.read.parquet(*staged_paths["lineage"])
                .agg(*[F.sum(x) for x in ("rows_in", "rows_out", "rows_retry", "rows_failed",
                                         "rows_timeout", "bytes_fetched")])
                .first()
            )
    totals = [int(x or 0) for x in t]
    return TracedRound(
        funnel={
            "selected": totals[0], "fetched_ok": totals[1], "retried": totals[2], "failed": totals[3],
            "new_links": tracer.last("links").counts["rows_out"], "seen_delta": delta_seen,
        },
        timeouts=totals[4],
        bytes_fetched=totals[5],
        staged_paths=staged_paths,
        dedup_out=dedup_out,
    )


def dir_stats(path: str | Path) -> tuple[int, int]:
    """(bytes, data files) of a staged snapshot directory."""
    files = [p for p in Path(path).rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]
    return sum(p.stat().st_size for p in files), len(files)


def index_and_compaction(tracer: Tracer, catalog, round_id: int, dedup_out: DataFrame) -> None:
    """Layers the round itself skips below SEEN_INDEX_MIN, timed after its
    commit so they stay outside the round's span: a Bloom seen index built
    from the committed seen table, probed with the round's deduplicated
    frontier, and a frontier compaction."""
    spark = tracer.spark
    n_seen = catalog.cumulative_count("seen")
    # update_bloom_index's rebuild sizing
    m_total, k = bloom_params(max(BLOOM_MIN_CAPACITY, 4 * n_seen))
    m_shard = max(64, m_total // BLOOM_SHARDS)
    index_dir = Path(catalog.root) / "trace_bloom_index"
    with tracer.span("seen.index") as c:
        seen_keys = catalog.read(spark, "seen").select("url_hash")
        build_bloom_shards(seen_keys, BLOOM_SHARDS, m_shard, k).write.parquet(str(index_dir))
        c["bytes"] = dir_stats(index_dir)[0]
    with tracer.span("seen.probe") as c:
        marked = mark_maybe_seen(dedup_out, spark.read.parquet(str(index_dir)), BLOOM_SHARDS, m_shard, k)
        n, maybe = marked.agg(F.count("*"), F.sum(F.col("maybe_seen").cast("long"))).first()
        c["maybe_frac"] = (maybe or 0) / n if n else 0.0
    dedup_out.unpersist()
    rows_in = catalog.read(spark, "frontier").count()
    with tracer.span("compact") as c:
        compact_frontier(spark, catalog, COMPACT_ROUND_BASE + round_id)
    c["rows_in"] = rows_in
    c["rows_out"] = catalog.read(spark, "frontier").count()


def _launch_times_and_shuffle(evdir: str, app_id: str) -> list[tuple[float, int]]:
    """(task launch epoch ms, shuffle bytes written) for every task."""
    out = []
    for path in event_log_paths(evdir, app_id):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                wm = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                out.append((ev["Task Info"]["Launch Time"], int(wm.get("Shuffle Bytes Written", 0))))
    return out


def layer_task_stats(evdir: str, app_id: str, n_slots: int, spans: list[Span],
                     layers: tuple[str, ...]) -> None:
    """Add `task_skew` (of the layer's dominant stage) and `shuffle_bytes`
    (written by the layer's tasks) to the counts of each span in `layers`.
    Spans of one op never overlap, so launch time places a task."""
    tasks = _launch_times_and_shuffle(evdir, app_id)
    for s in spans:
        if s.name not in layers:
            continue
        s.counts["shuffle_bytes"] = sum(b for t, b in tasks if s.start_ms <= t <= s.end_ms)
        dom = dominant_stage(stage_task_stats(evdir, app_id, n_slots, s.start_ms, s.end_ms, min_task_ms=0))
        s.counts["task_skew"] = float(dom["skew"] or 1.0) if dom else 1.0


def driver_probes(seed_urls: list[str], n_hosts: int, reps: int = 3) -> dict[str, float]:
    """Driver-side cost of the synthetic transport and the image codec on
    one fixed batch: ms per URL of `synthetic_fetch_batch`, and µs per
    image of `encode_image` and `average_hash`."""
    batch = pa.RecordBatch.from_arrays(
        [pa.array(seed_urls, pa.string()), pa.array([0] * len(seed_urls), pa.int32())],
        names=["url_canon", "attempt"],
    )
    seeds = [(zlib.crc32(u.encode("utf-8")) ^ datagen.GLOBAL_SEED) & 0x7FFFFFFF for u in seed_urls]
    images = [(datagen.synth_image(s), "png" if s % 2 == 0 else "jpeg") for s in seeds]

    def per_item(fn, n) -> float:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append((time.perf_counter() - t0) / n)
        return statistics.median(times)

    return {
        "transport_ms_per_url": 1e3 * per_item(lambda: synthetic_fetch_batch(batch, n_hosts), len(seed_urls)),
        "encode_us": 1e6 * per_item(lambda: [encode_image(a, f) for a, f in images], len(images)),
        "ahash_us": 1e6 * per_item(lambda: [average_hash(a) for a, _ in images], len(images)),
    }
