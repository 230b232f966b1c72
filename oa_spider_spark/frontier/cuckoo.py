"""Sharded cuckoo-filter seen index — the DELETABLE membership twin of
the Bloom index (seen.py). The Bloom shards support only insertion
(bitwise OR is monotone), which is exactly right for "have we ever
fetched this URL" — but seen-set REVOCATION needs deletes: a robots.txt
change or a takedown means a family of URLs must become fetchable
again, and a Bloom filter cannot forget. The cuckoo filter (Fan et al.,
CoNLL'14 "Cuckoo Filter: Practically Better Than Bloom") stores
displaceable 16-bit fingerprints in two candidate buckets per key, so
membership, insertion AND deletion are all O(1) per key — at a false-
positive rate comparable to Bloom at the same bits/key.

Distribution model (same as the Bloom index): the key space is
partitioned by `pmod(hash, n_shards)`; each shard is ONE numpy bucket
table built inside applyInPandas, and probes COGROUP the row shard
against its filter shard — the blob materializes once per task, never
joined onto rows (the 601s-vs-108s lesson in CLAUDE.md).

Determinism: keys are sorted before insertion, and the eviction walk
derives its choices from the key hashes alone, so shard blobs are
byte-reproducible for a given key set — commit/resume-friendly like
every other table in the catalog.

Caveats carried verbatim from the paper, enforced by the API contract:
* delete ONLY keys that were inserted (deleting an absent key can evict
  a colliding key's fingerprint and create a false negative) — the
  revocation flow satisfies this by construction: you only revoke URLs
  you marked seen;
* two keys sharing fingerprint AND buckets leave one fp behind after a
  single delete (membership stays true — a false positive, the safe
  direction; never a false negative for still-inserted keys);
* `hash_col` must carry a real 64-bit hash (xxhash64/md5h60 — the
  engine's url_hash already is): the fingerprint reads bits 40-55, so
  sequential raw ids (< 2^40) collapse every fingerprint to 1 and the
  filter degrades to per-bucket membership.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BUCKET_SLOTS = 4
MAX_KICKS = 500
_FP_MIX = np.uint64(0x5BD1E995)


def _derive(h64: np.ndarray, nb: int):
    """fingerprint (nonzero uint16) + the two candidate buckets from a
    key's 64-bit hash. i2 = i1 XOR mix(fp) — the partial-key property
    that lets deletion/eviction recompute the partner bucket from the
    stored fingerprint alone."""
    h = h64.view(np.uint64) if h64.dtype != np.uint64 else h64
    fp = ((h >> np.uint64(40)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    i1 = (h % np.uint64(nb)).astype(np.int64)
    i2 = (i1 ^ ((fp.astype(np.uint64) * _FP_MIX) % np.uint64(nb)).astype(np.int64)) % nb
    return fp, i1, i2


def _alt_bucket(fp: np.uint16, i: int, nb: int) -> int:
    return int((i ^ int((np.uint64(fp) * _FP_MIX) % np.uint64(nb))) % nb)


def _insert_all(table: np.ndarray, h64: np.ndarray, nb: int) -> list:
    """Insert hashes into the bucket table (in sorted-hash order for
    determinism); returns the overflow stash (hashes, as signed int64
    like the url_hash column, whose eviction walk exceeded MAX_KICKS —
    exact membership fallback)."""
    order = np.argsort(h64, kind="stable")
    signed = h64.view(np.int64)
    fps, i1s, i2s = _derive(h64, nb)
    stash = []
    rng_state = 0
    for idx in order:
        fp, i1, i2 = int(fps[idx]), int(i1s[idx]), int(i2s[idx])
        placed = False
        for b in (i1, i2):
            empty = np.flatnonzero(table[b] == 0)
            if len(empty):
                table[b, empty[0]] = fp
                placed = True
                break
        if placed:
            continue
        # eviction walk: deterministic victim slot from the walk count
        b, cur = i1, fp
        kicks = []
        for kick in range(MAX_KICKS):
            rng_state = (rng_state * 6364136223846793005 + 1442695040888963407) & (
                (1 << 64) - 1
            )
            slot = (rng_state >> 33) % BUCKET_SLOTS
            kicks.append((b, slot, int(table[b, slot])))
            cur, table[b, slot] = int(table[b, slot]), cur
            b = _alt_bucket(np.uint16(cur), b, nb)
            empty = np.flatnonzero(table[b] == 0)
            if len(empty):
                table[b, empty[0]] = cur
                placed = True
                break
        if not placed:
            # the walk's last victim belongs to an already-inserted key:
            # undo the chain so every displaced fingerprint is back in
            # place, then stash the NEW key (the only one left homeless)
            for b, slot, old in reversed(kicks):
                table[b, slot] = old
            stash.append(int(signed[idx]))
    return stash


def cuckoo_params(n_items: int) -> int:
    """Buckets per shard: next power of two giving load factor <= ~0.7
    at BUCKET_SLOTS slots (the paper's high-load regime for 4-way)."""
    need = max(int(n_items / (BUCKET_SLOTS * 0.7)) + 1, 8)
    nb = 1
    while nb < need:
        nb <<= 1
    return nb


def build_cuckoo_shards(
    keys: DataFrame,
    n_shards: int,
    n_buckets: int,
    hash_col: str = "url_hash",
) -> DataFrame:
    """keys(hash_col) -> (shard int, table binary, stash binary): one
    filter blob per shard, built map-side per shard group. Blobs are
    uint16 bucket tables (n_buckets x BUCKET_SLOTS) + int64 stash."""
    withshard = keys.select(
        F.col(hash_col), F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int").alias("shard")
    )

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        table = np.zeros((n_buckets, BUCKET_SLOTS), dtype=np.uint16)
        h = pdf[hash_col].to_numpy(dtype=np.int64).view(np.uint64)
        stash = _insert_all(table, h, n_buckets)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "table": [table.tobytes()],
                "stash": [np.array(stash, dtype=np.int64).tobytes()],
            }
        )

    return withshard.groupBy("shard").applyInPandas(
        agg, schema="shard int, table binary, stash binary"
    )


def probe_cuckoo(
    rows: DataFrame,
    shards: DataFrame,
    n_shards: int,
    n_buckets: int,
    hash_col: str = "url_hash",
) -> DataFrame:
    """rows + maybe_seen via cogrouped probe — vectorized bucket reads,
    blob materialized once per task."""
    withshard = rows.withColumn(
        "shard", F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int")
    )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in withshard.schema.fields
    ) + ", maybe_seen boolean"

    def probe(r: pd.DataFrame, s: pd.DataFrame) -> pd.DataFrame:
        if not len(r):
            return r.assign(maybe_seen=pd.Series([], dtype=bool))
        if not len(s) or s["table"].iloc[0] is None:
            return r.assign(maybe_seen=False)
        table = np.frombuffer(s["table"].iloc[0], dtype=np.uint16).reshape(
            n_buckets, BUCKET_SLOTS
        )
        stash = set(np.frombuffer(s["stash"].iloc[0], dtype=np.int64).tolist())
        h = r[hash_col].to_numpy(dtype=np.int64).view(np.uint64)
        fp, i1, i2 = _derive(h, n_buckets)
        hit = (table[i1] == fp[:, None]).any(axis=1) | (
            table[i2] == fp[:, None]
        ).any(axis=1)
        if stash:
            hit |= np.isin(r[hash_col].to_numpy(dtype=np.int64), list(stash))
        return r.assign(maybe_seen=hit)

    return (
        withshard.groupBy("shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(probe, schema=out_schema)
    )


def delete_cuckoo(
    shards: DataFrame,
    keys: DataFrame,
    n_shards: int,
    n_buckets: int,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Revoke keys (which MUST have been inserted — see module
    docstring): per shard, remove one matching fingerprint per deleted
    key from its candidate buckets (or the stash); returns the updated
    shard blobs. Shards with no deletions pass through unchanged."""
    withshard = keys.select(
        F.col(hash_col), F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int").alias("shard")
    )

    def dele(s: pd.DataFrame, k: pd.DataFrame) -> pd.DataFrame:
        if not len(s):
            return pd.DataFrame(
                {"shard": pd.Series([], dtype="int32"),
                 "table": pd.Series([], dtype=object),
                 "stash": pd.Series([], dtype=object)}
            )
        if not len(k):
            return s[["shard", "table", "stash"]]
        table = np.frombuffer(s["table"].iloc[0], dtype=np.uint16).reshape(
            n_buckets, BUCKET_SLOTS
        ).copy()
        stash = list(np.frombuffer(s["stash"].iloc[0], dtype=np.int64))
        h = k[hash_col].to_numpy(dtype=np.int64)
        hu = np.sort(h).view(np.uint64)
        fps, i1s, i2s = _derive(hu, n_buckets)
        for j in range(len(hu)):
            raw = int(np.int64(hu[j].astype(np.int64)))
            if raw in stash:
                stash.remove(raw)
                continue
            fp = fps[j]
            done = False
            for b in (int(i1s[j]), int(i2s[j])):
                slots = np.flatnonzero(table[b] == fp)
                if len(slots):
                    table[b, slots[0]] = 0
                    done = True
                    break
            # absent fp: contract violation by the caller; no-op is the
            # least-harm behavior (never delete someone else's slot)
            _ = done
        return pd.DataFrame(
            {
                "shard": [int(s["shard"].iloc[0])],
                "table": [table.tobytes()],
                "stash": [np.array(stash, dtype=np.int64).tobytes()],
            }
        )

    return (
        shards.groupBy("shard")
        .cogroup(withshard.groupBy("shard"))
        .applyInPandas(dele, schema="shard int, table binary, stash binary")
    )
