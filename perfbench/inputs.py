"""Seeded input generation for the crawl workloads.

The workload seed is an offset on the generated URL ids, so every
crc32-derived column (host pick, priority, created_ms, and the synthetic
fetch's status, payload and outlinks) changes with it. The frontier is
built here from `spark.range` and `frontier.canon.with_url_columns`; the
engine only ever sees the committed snapshots.

Inputs are staged once per run into a base directory through
`Catalog.stage`. Each operation then opens a fresh catalog and commits the
same snapshot paths as its genesis round (`prepare_catalog`), so repeated
operations start from identical state without rewriting the inputs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from oa_spider_spark.datagen import GLOBAL_SEED
from oa_spider_spark.frontier.canon import with_url_columns
from oa_spider_spark.frontier.round import FRONTIER_COLS
from oa_spider_spark.tables import Catalog

from .spark_env import counted

N_HOSTS = 24
HOT_SHARE = 0.4
# datagen's outlinks use ids in [1e6, 2e6); seed ids start above them
ID_STRIDE = 10_000_000


@dataclass(frozen=True)
class Workload:
    name: str
    n_frontier: int  # distinct generated frontier URLs
    budget: int  # per-host budget of the round
    depth_levels: int = 1  # generated depths are 0..depth_levels-1
    requeue_mod: int = 0  # every requeue_mod-th URL is queued again at attempt 1
    seen_mod: int = 0  # URLs whose url_hash % seen_mod != 0 are already seen


WORKLOADS = {
    w.name: w
    for w in (
        # a newly seeded frontier: the round is fetch-bound
        Workload("fresh_round", n_frontier=12_000, budget=12_000 // N_HOSTS),
        # a large backlog with duplicates and a big seen history, under a
        # tight budget: the round is selection-bound
        Workload(
            "backlog_select", n_frontier=200_000, budget=100,
            depth_levels=4, requeue_mod=10, seen_mod=4,
        ),
    )
}


@dataclass
class Inputs:
    """Staged snapshot paths and their row counts."""

    paths: dict[str, list[str]] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)  # frontier rows include duplicates


def id_offset(seed: int) -> int:
    return (seed % 100_000 + 1) * ID_STRIDE


def _crc_seed(col):
    """datagen's per-URL seed: (crc32(x) ^ GLOBAL_SEED) & 0x7FFFFFFF."""
    return (
        F.crc32(F.encode(col, "utf-8"))
        .bitwiseXOR(F.lit(GLOBAL_SEED))
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )


def frontier_df(
    spark: SparkSession, n: int, seed: int, *, depth_levels: int = 1,
    partitions: int | None = None,
):
    """`n` frontier rows over N_HOSTS hosts, HOT_SHARE of them on host 0,
    with URL ids starting at `id_offset(seed)`."""
    nparts = partitions or spark.sparkContext.defaultParallelism
    off = id_offset(seed)
    ids = spark.range(off, off + n, 1, nparts).select(F.col("id").alias("n"))
    s = _crc_seed(F.concat(F.lit("seed:"), F.col("n").cast("string")))
    hidx = F.when(s % 1000 < int(HOT_SHARE * 1000), F.lit(0)).otherwise(
        (1 + s % (N_HOSTS - 1)).cast("int")
    )
    host = F.concat(F.lit("h"), F.lpad(hidx.cast("string"), 3, "0"), F.lit(".example.org"))
    kind = F.when(F.col("n") % 3 == 0, F.lit("mail")).otherwise(F.lit("doc"))
    base = ids.select(
        F.concat(F.lit("http://"), host, F.lit("/"), kind, F.lit("/"), F.col("n").cast("string")).alias("url"),
        kind.alias("kind"),
        ((s / 1000).cast("long") % depth_levels).cast("int").alias("depth"),
    )
    us = _crc_seed(F.col("url_canon"))
    return (
        with_url_columns(base)
        .withColumn("priority", (us % 100).cast("int"))
        .withColumn("created_ms", (F.lit(1_600_000_000_000) + us % 10_000_000).cast("long"))
        .withColumn("attempt", F.lit(0))
        .withColumn("round_added", F.lit(0))
        .select(*FRONTIER_COLS)
    )


def _stage_counted(catalog: Catalog, df, table: str) -> tuple[str, int]:
    df, obs = counted(df)
    path = catalog.stage(df, table, 0)
    return path, int(obs.get["n"])


def stage_inputs(spark: SparkSession, base: Catalog, w: Workload, seed: int, partitions: int) -> Inputs:
    """Write the workload's generated snapshots under `base` (uncommitted)."""
    inp = Inputs(paths={"frontier": []}, counts={"frontier": 0})
    front = frontier_df(spark, w.n_frontier, seed, depth_levels=w.depth_levels, partitions=partitions)
    path, n = _stage_counted(base, front, "frontier")
    inp.paths["frontier"].append(path)
    inp.counts["frontier"] += n
    staged = spark.read.parquet(path)
    if w.requeue_mod:
        # the same URLs again at attempt 1 from a later round: dedup must
        # keep these rows and drop the attempt-0 originals
        requeue = (
            staged.filter(F.pmod(F.col("url_hash"), F.lit(w.requeue_mod)) == 0)
            .withColumn("attempt", F.lit(1))
            .withColumn("round_added", F.lit(1))
        )
        path, n = _stage_counted(base, requeue, "frontier")
        inp.paths["frontier"].append(path)
        inp.counts["frontier"] += n
    if w.seen_mod:
        seen = staged.filter(F.pmod(F.col("url_hash"), F.lit(w.seen_mod)) != 0).select(
            "url_hash", "url_canon", F.lit("ok").alias("status"), F.lit(-1).alias("round_seen")
        )
        path, n = _stage_counted(base, seen, "seen")
        inp.paths["seen"] = [path]
        inp.counts["seen"] = n
    return inp


def prepare_catalog(root: str, inputs: Inputs) -> Catalog:
    """A fresh catalog whose genesis commit is the staged inputs; `counts`
    ride the commit so the engine's adaptive policies read them."""
    cat = Catalog(root)
    cat.commit_round(-1, {t: list(p) for t, p in inputs.paths.items()}, counts=dict(inputs.counts))
    return cat
