"""URL-seen set: distributed Bloom prefilter + exact anti-join (J2).

The reference delegates dedup to server-side read-marking (`oa.py:384,
507-510,1065` — each processed doc is marked read so the next listing
excludes it). The engine's equivalent is an append-only `seen` table of
url_hash keys, consulted at frontier-selection time.

At 10^10 URLs the exact `left_anti` join shuffles the full frontier against
the full seen table every round. The scale path is a **partitioned Bloom
filter**: the seen table is aggregated into P bitmap shards keyed by
`pmod(url_hash, P)`; the frontier co-shuffles on the same key, joins its
shard (equi join, co-partitioned, no broadcast of the whole filter), and a
vectorized probe marks rows `maybe_seen`. Only the maybe-set proceeds to
the exact anti-join — Bloom false positives can never DROP a URL, they can
only cost an exact lookup (SURVEY.md §7 hard-part 2). A row whose shard
says "definitely not seen" skips the big join entirely.

Build and probe use numpy bit-ops inside Arrow batches; bit positions are
derived from the already-computed 64-bit url_hash by splitmix64 remixing
(k hash functions from one hash, standard double-hashing construction).

One rule decides when the round uses the index: a fresh persisted index
gates the probe; `run_round` builds the index once cumulative seen
reaches SEEN_INDEX_MIN and keeps it fresh from then on; with no fresh
index the round does a plain `left_anti`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..worker import prepare_worker

MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via splitmix64 double hashing. hashes: uint64."""
    x = hashes.copy()
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & MASK64
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & MASK64
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & MASK64
    h1 = x ^ (x >> np.uint64(31))
    h2 = (x >> np.uint64(17)) | np.uint64(1)  # odd step
    ks = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) sized for n items at target false-positive rate."""
    n = max(n_items, 1)
    m = int(-n * np.log(fpp) / (np.log(2) ** 2)) + 8
    k = max(1, int(round(m / n * np.log(2))))
    return m, min(k, 8)


def build_bloom_shards(
    seen: DataFrame, n_shards: int, m_bits_per_shard: int, k: int
) -> DataFrame:
    """Aggregate seen.url_hash into P bitmap shards:
    DataFrame[shard:int, bits:binary]."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        prepare_worker()
        bits = np.zeros((m_bits_per_shard + 7) // 8, dtype=np.uint8)
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        pos = _positions(hashes, m_bits_per_shard, k).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])], "bits": [bits.tobytes()]})

    return (
        seen.select(F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int").alias("shard"), "url_hash")
        .groupBy("shard")
        .applyInPandas(agg, schema="shard int, bits binary")
    )


def mark_maybe_seen(
    frontier: DataFrame, bloom: DataFrame, n_shards: int, m_bits_per_shard: int, k: int
) -> DataFrame:
    """Attach `maybe_seen` to the frontier by probing the co-partitioned
    Bloom shards via **cogrouped applyInPandas**: the frontier's shard
    group and the (single-row) bitmap group meet in one task, so each
    shard's bitmap materializes ONCE per task. The earlier join-then-map
    formulation put a copy of the bitmap on EVERY row — a 4096-row Arrow
    batch carried ~0.6 GB of repeated bitmap at 1M seen URLs and made the
    probe slower than the exact join it was gating (measured 601 s vs
    108 s per round). Rows in shards with no bitmap are definitely new."""
    withshard = frontier.withColumn(
        "shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in withshard.schema.fields
    ) + ", maybe_seen boolean"

    def probe(rows: pd.DataFrame, bmp: pd.DataFrame) -> pd.DataFrame:
        prepare_worker()
        if not len(rows):
            return rows.assign(maybe_seen=pd.Series([], dtype=bool))
        if not len(bmp) or bmp["bits"].iloc[0] is None:
            return rows.assign(maybe_seen=False)
        arr = np.frombuffer(bmp["bits"].iloc[0], dtype=np.uint8)
        hashes = rows["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        pos = _positions(hashes, m_bits_per_shard, k)
        hit = (arr[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return rows.assign(maybe_seen=hit.all(axis=1))

    return (
        withshard.groupBy("shard")
        .cogroup(bloom.groupBy("shard"))
        .applyInPandas(probe, schema=out_schema)
    )


# --- persisted incremental Bloom index (VERDICT r03 item 1a) -------------
#
# Rebuilding the shards from the full seen table every round is a
# corpus-lifetime cost: at the 10^10-URL design point each round re-scans
# and re-hashes every URL ever seen. Bitwise OR is associative, so the
# shards persist as a catalog table and each round ORs in only that
# round's seen-append delta — per-round cost = O(delta) hash work +
# O(filter size) rewrite, independent of corpus age. When the cumulative
# insert count outgrows the filter's sized capacity (fpp would degrade),
# the index is rebuilt from the full table at 4× capacity — geometric, so
# total rebuild work over the corpus lifetime is O(corpus), amortized
# O(1) per URL. The invariant that makes all of this safe: the filter
# must be a SUPERSET of seen (missing keys would let a seen URL re-fetch;
# extra bits only cost an exact lookup) — hence the staleness guard:
# an index older than the last seen commit is discarded, never trusted.

BLOOM_MIN_CAPACITY = 1 << 20  # smallest filter: ~1.2 Mbit at 1% fpp
BLOOM_SHARDS = 64
BLOOM_FPP = 0.01

# The one breakeven. Below this many seen URLs the plain JVM left_anti
# wins outright: the whole seen side fits a broadcast/shuffle hash join
# and the Python probe stage (worker startup + Arrow hops) costs more
# than it saves. The shards pay off when the seen table is too big to
# re-shuffle against the frontier every round (10^8+; the 10^10 design
# point is the north rule). It gates both halves: `run_round` builds the
# index once cumulative seen reaches it (below, per-round delta-hash +
# shard-OR + rewrite is pure overhead: measured 8.7 s/round of
# derived_stage at sf0.1), and `anti_join_seen(use_bloom="auto")`
# probes above it. Env-overridable for deployments whose breakeven
# differs (faster disks shift it down); the override moves both.
SEEN_INDEX_MIN = int(os.environ.get("SEEN_INDEX_MIN", 20_000_000))


@dataclass(frozen=True)
class BloomMeta:
    n_shards: int
    m_shard: int
    k: int
    n_items: int  # cumulative inserts (seen appends are never re-seen)
    capacity: int  # sized key budget; n_items > capacity ⇒ rebuild
    as_of_round: int  # last round whose seen append is OR'd in

    def as_row(self) -> tuple:
        return (
            self.n_shards, self.m_shard, self.k,
            self.n_items, self.capacity, self.as_of_round,
        )


BLOOM_META_SCHEMA = (
    "n_shards int, m_shard long, k int, n_items long, capacity long, "
    "as_of_round int"
)


def merge_bloom_shards(prior: DataFrame, delta: DataFrame) -> DataFrame:
    """Bitwise-OR two shard sets built with IDENTICAL (m_shard, k).
    Shuffle volume = number of distinct shards × bitmap size — never
    row-proportional."""

    def orfn(pdf: pd.DataFrame) -> pd.DataFrame:
        prepare_worker()
        out = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint8).copy()
        for b in pdf["bits"].iloc[1:]:
            out |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bits": [out.tobytes()]}
        )

    return (
        prior.unionByName(delta)
        .groupBy("shard")
        .applyInPandas(orfn, schema="shard int, bits binary")
    )


def read_bloom_index(
    spark: SparkSession, catalog
) -> tuple[DataFrame, BloomMeta] | None:
    """Latest committed (shards, meta) — or None when absent or STALE
    (seen commits newer than the index mean it is not a superset of seen
    and must not gate the anti-join)."""
    meta_df = catalog.read_latest(spark, "bloom_meta")
    if meta_df is None:
        return None
    row = meta_df.head()
    meta = BloomMeta(
        n_shards=row["n_shards"], m_shard=row["m_shard"], k=row["k"],
        n_items=row["n_items"], capacity=row["capacity"],
        as_of_round=row["as_of_round"],
    )
    seen_rounds = catalog.rounds_with("seen")
    if seen_rounds and seen_rounds[-1] > meta.as_of_round:
        return None  # stale — a round committed seen without updating it
    shards = catalog.read_latest(spark, "bloom_shards")
    if shards is None:
        return None
    return shards, meta


def update_bloom_index(
    spark: SparkSession,
    catalog,
    round_id: int,
    staged_seen_paths: list[str],
    delta_count: int,
) -> dict[str, list[str]]:
    """Fold this round's seen-append delta into the persisted index;
    returns staged-path entries to include in the SAME round commit (the
    index and the seen rows it covers become visible atomically together).

    Incremental path: hash only the delta, OR into the prior shards.
    Rebuild path (no index / stale / capacity exceeded): full scan of
    seen + delta, capacity = max(4 × total, BLOOM_MIN_CAPACITY)."""
    prior = read_bloom_index(spark, catalog)
    delta_keys = spark.read.parquet(*staged_seen_paths).select("url_hash")

    if prior is not None and prior[1].n_items + delta_count <= prior[1].capacity:
        shards_df, meta = prior
        delta_shards = build_bloom_shards(
            delta_keys, meta.n_shards, meta.m_shard, meta.k
        )
        new_shards = merge_bloom_shards(shards_df, delta_shards)
        new_meta = BloomMeta(
            meta.n_shards, meta.m_shard, meta.k,
            meta.n_items + delta_count, meta.capacity, round_id,
        )
    else:
        committed = catalog.snapshot_paths("seen")
        all_keys = (
            spark.read.parquet(*committed, *staged_seen_paths).select("url_hash")
            if committed
            else delta_keys
        )
        n_total = all_keys.count()
        capacity = max(BLOOM_MIN_CAPACITY, 4 * n_total)
        m_total, k = bloom_params(capacity, BLOOM_FPP)
        m_shard = max(64, m_total // BLOOM_SHARDS)
        new_shards = build_bloom_shards(all_keys, BLOOM_SHARDS, m_shard, k)
        new_meta = BloomMeta(BLOOM_SHARDS, m_shard, k, n_total, capacity, round_id)

    meta_df = spark.createDataFrame([new_meta.as_row()], BLOOM_META_SCHEMA)
    return {
        "bloom_shards": [catalog.stage(new_shards, "bloom_shards", round_id)],
        "bloom_meta": [catalog.stage(meta_df, "bloom_meta", round_id)],
    }


def anti_join_seen(
    frontier: DataFrame,
    seen: DataFrame | None,
    use_bloom: bool | str = "auto",
    est_seen: int | None = None,
    index: tuple[DataFrame, BloomMeta] | None = None,
) -> DataFrame:
    """Frontier rows NOT in the seen set (exact).

    With the Bloom path, the exact left_anti only processes Bloom
    maybe-positives; definite-new rows bypass it. Without, it is a plain
    left_anti on url_hash (what Catalyst would row-filter itself with
    `spark.sql.optimizer.runtime.bloomFilter.enabled` inside one round —
    the explicit filter exists because the seen table persists across
    rounds, SURVEY.md §4 item 2).

    `use_bloom="auto"` (default) measures the seen table and enables the
    sharded probe only from SEEN_INDEX_MIN — below that the probe is a
    measured pessimization (extra Python stage > saved join work).
    False positives can only cost an exact lookup, never drop a URL
    (SURVEY.md §7 hard-part 2).

    `index` is a persisted (shards, meta) pair from `read_bloom_index`:
    the probe then uses the incrementally-maintained shards instead of
    rebuilding from the full seen table, and `meta.n_items` replaces the
    seen-table count job entirely.
    """
    if use_bloom not in (True, False, "auto"):
        raise ValueError(f"use_bloom must be True, False or 'auto', got {use_bloom!r}")
    if seen is None:
        return frontier
    seen_keys = seen.select("url_hash")
    if est_seen is not None:
        n = est_seen
    elif index is not None:
        n = index[1].n_items
    else:
        n = seen_keys.count() if use_bloom in (True, "auto") else 0
    if use_bloom == "auto":
        use_bloom = n >= SEEN_INDEX_MIN
    if not use_bloom:
        return frontier.join(seen_keys, "url_hash", "left_anti")
    if n == 0:
        return frontier
    if index is not None:
        bloom, meta = index
        n_shards, m_shard, k = meta.n_shards, meta.m_shard, meta.k
    else:
        m_total, k = bloom_params(n, BLOOM_FPP)
        n_shards, m_shard = BLOOM_SHARDS, max(64, m_total // BLOOM_SHARDS)
        bloom = build_bloom_shards(seen_keys, n_shards, m_shard, k)
    marked = mark_maybe_seen(frontier, bloom, n_shards, m_shard, k)
    definitely_new = marked.filter(~F.col("maybe_seen")).drop("maybe_seen", "shard")
    maybe = marked.filter(F.col("maybe_seen")).drop("maybe_seen", "shard")
    confirmed_new = maybe.join(seen_keys, "url_hash", "left_anti")
    return definitely_new.unionByName(confirmed_new)
