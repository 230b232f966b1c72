"""Correctness checks of one crawl round, run outside the timed region.

Each check recomputes what the round must have produced from the
generated inputs with plain Spark or plain Python, without calling the
engine's selection code, and returns a list of failure messages (empty
when the check passes). The synthetic fetch is the one oracle shared with
the engine: `datagen.fetch_url` is the definition of what a URL returns.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oa_spider_spark import datagen
from oa_spider_spark.kernels.codec import decode_image, psnr

SAMPLE_ROWS = 200
MIN_PSNR_DB = 40.0


def _live(frontier: DataFrame, seen: DataFrame | None, max_depth: int) -> DataFrame:
    """Distinct pending URLs at depth <= max_depth that are not yet seen.
    Duplicate frontier rows of one URL differ only in attempt/round_added."""
    live = frontier.dropDuplicates(["url_hash"]).filter(F.col("depth") <= max_depth)
    if seen is not None:
        live = live.join(seen.select("url_hash"), "url_hash", "left_anti")
    return live


def expected_selected(live: DataFrame, budget: int) -> int:
    """sum over hosts of min(pending URLs, budget), from `_live` rows."""
    per_host = live.groupBy("host").count()
    row = per_host.agg(F.sum(F.least(F.col("count"), F.lit(budget)))).first()
    return int(row[0] or 0)


def check_selection(
    frontier: DataFrame, seen: DataFrame | None, fetched: DataFrame,
    budget: int, max_depth: int, selected: int,
) -> list[str]:
    """The round's count and URL set equal each host's first `budget`
    pending URLs under the total crawl order."""
    errs = []
    live = _live(frontier, seen, max_depth).persist()
    try:
        want = expected_selected(live, budget)
        if selected != want:
            errs.append(f"selected {selected} != expected {want}")
        order = Window.partitionBy("host").orderBy(
            F.col("priority").desc(), F.col("created_ms").desc(),
            F.when(F.col("kind") == "doc", 0).otherwise(1), F.col("url_hash"),
        )
        top = (
            live.withColumn("_r", F.row_number().over(order))
            .filter(F.col("_r") <= budget)
            .select("url_hash")
        )
        got = fetched.select("url_hash")
        missing = top.join(got, "url_hash", "left_anti").count()
        extra = got.join(top, "url_hash", "left_anti").count()
    finally:
        live.unpersist()
    if missing or extra:
        errs.append(f"selection differs from per-host top-{budget}: {missing} missing, {extra} extra")
    return errs


def _order_key(priority: int, created_ms: int, kind: str, url_hash: int) -> tuple:
    return (-priority, -created_ms, 0 if kind == "doc" else 1, url_hash)


def check_fetch_order(rows: list[tuple]) -> list[str]:
    """rows: (fetch_order, priority, created_ms, kind, url_hash). fetch_order
    must be exactly 1..n and strictly follow the total order key."""
    rows = sorted(rows, key=lambda r: r[0])
    orders = [r[0] for r in rows]
    if orders != list(range(1, len(rows) + 1)):
        return [f"fetch_order is not 1..{len(rows)}"]
    keys = [_order_key(*r[1:]) for r in rows]
    bad = sum(1 for a, b in zip(keys, keys[1:]) if not a < b)
    return [f"{bad} adjacent fetch_order pairs break the crawl order"] if bad else []


def taxonomy_counts(fetched: DataFrame) -> dict[str, int]:
    """ok/retry/failed/timeout counts of the datagen failure taxonomy,
    evaluated as Column expressions over (url_canon, attempt)."""
    s = (
        F.crc32(F.encode(F.col("url_canon"), "utf-8"))
        .bitwiseXOR(F.lit(datagen.GLOBAL_SEED))
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )
    first = F.col("attempt") == 0
    status = (
        F.when(s % datagen.FATAL_MOD == 0, "failed")
        .when(s % datagen.STALL_MOD == 0, "timeout")
        .when((s % datagen.RETRY_MOD == 0) & first, "retry")
        .when((s % datagen.SLOW_MOD == 0) & first, "timeout")
        .otherwise("ok")
    )
    got = {r[0]: int(r[1]) for r in fetched.groupBy(status).count().collect()}
    return {
        "ok": got.get("ok", 0),
        "retry": got.get("retry", 0) + got.get("timeout", 0),
        "failed": got.get("failed", 0),
        "timeout": got.get("timeout", 0),
    }


def check_status_counts(fetched: DataFrame, observed: dict[str, int]) -> list[str]:
    want = taxonomy_counts(fetched)
    return [
        f"{k}: {observed.get(k)} != taxonomy {v}"
        for k, v in want.items()
        if observed.get(k) != v
    ]


def check_unseen(fetched: DataFrame, seen_before: DataFrame | None) -> list[str]:
    if seen_before is None:
        return []
    n = fetched.join(seen_before.select("url_hash"), "url_hash", "left_semi").count()
    return [f"{n} fetched URLs were already seen"] if n else []


def sample_rows(fetched: DataFrame, n: int = SAMPLE_ROWS) -> list:
    """A fixed sample: the n smallest url_hash values of the round."""
    return (
        fetched.select("url_canon", "attempt", "status", "bytes", "caption", "phash", "links")
        .orderBy("url_hash")
        .limit(n)
        .collect()
    )


def check_payload_sample(rows, n_hosts: int) -> list[str]:
    """Each sampled row equals `datagen.fetch_url` on the driver: status,
    byte-exact caption, phash and outlinks, and a decoded image within
    MIN_PSNR_DB of the synthetic original."""
    errs = []
    for r in rows:
        ref = datagen.fetch_url(r["url_canon"], attempt=r["attempt"], n_hosts=n_hosts)
        if r["status"] != ref.status:
            errs.append(f"{r['url_canon']}: status {r['status']} != {ref.status}")
            continue
        if ref.status != "ok":
            continue
        if r["caption"] != ref.caption or r["phash"] != ref.phash or list(r["links"]) != ref.links:
            errs.append(f"{r['url_canon']}: caption/phash/links differ")
            continue
        seed = (zlib.crc32(r["url_canon"].encode("utf-8")) ^ datagen.GLOBAL_SEED) & 0x7FFFFFFF
        db = psnr(decode_image(bytes(r["bytes"])), datagen.synth_image(seed))
        if db < MIN_PSNR_DB:
            errs.append(f"{r['url_canon']}: PSNR {db:.1f} dB < {MIN_PSNR_DB}")
    return errs


def check_round(spark, catalog, result, *, budget: int, n_hosts: int, max_depth: int = 2) -> list[str]:
    """Every check above against one committed round of `catalog`."""
    rid = result.round_id
    frontier = catalog.read(spark, "frontier", as_of_round=rid - 1)
    seen_before = catalog.read(spark, "seen", as_of_round=rid - 1)
    fetched = catalog.read(spark, "fetched", as_of_round=rid).filter(F.col("round") == rid)
    lineage = catalog.read(spark, "lineage", as_of_round=rid).filter(F.col("round") == rid)
    errs = check_selection(frontier, seen_before, fetched, budget, max_depth, result.selected)
    errs += check_fetch_order(
        [tuple(r) for r in fetched.select("fetch_order", "priority", "created_ms", "kind", "url_hash").collect()]
    )
    timeouts = int(lineage.agg(F.sum("rows_timeout")).first()[0] or 0)
    errs += check_status_counts(
        fetched,
        {"ok": result.fetched_ok, "retry": result.retried, "failed": result.failed, "timeout": timeouts},
    )
    errs += check_unseen(fetched, seen_before)
    errs += check_payload_sample(sample_rows(fetched), n_hosts)
    return errs
