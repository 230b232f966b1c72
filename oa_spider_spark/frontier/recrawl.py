"""Recrawl scheduling + crawl-trap guards — the frontier's *revisit*
policy, the piece a continuous crawler needs once the first pass of a
host is done (reference oa-spider revisits listing pages every run and
re-fetches on change; generalized here to per-URL adaptive intervals).

Both operators are pure integer column expressions (no floats, no UDFs)
so they carry full DuckDB value oracles and are bit-stable under any
partitioning / AQE re-plan:

* `recrawl_schedule` — estimate a per-URL change rate from the visit
  history (changes observed / visits made, in milli-units) and derive
  the next-fetch time by scaling a base interval inversely with the
  rate, clamped to [min_hours, max_hours]. This is the classic
  freshness-driven revisit policy (Cho & Garcia-Molina's uniform-vs-
  proportional result: proportional-to-change-rate with clamps): hot
  pages converge to the floor, dead pages to the ceiling. All division
  is integer `div` on named columns (float `/` corrupts past 2^53 and
  Spark/DuckDB disagree on decimal rounding).
* `crawl_trap_stats` — per-host URL-template amplification: collapse
  digit runs in the path to a sentinel and compare distinct URLs vs
  distinct templates. A calendar widget or session-id explosion shows
  up as ONE template spanning thousands of URLs (amplification ≫ 1);
  the frontier uses the flag to stop enqueueing that host's tail.

Scale notes (10^10-URL frontier): both are single keyed aggregations —
one shuffle each on url_id / (host, template) with map-side combine;
the window in `recrawl_schedule` is keyed by url_id (bounded per-key
history), never partition-less. Output is frontier-metadata-sized (one
row per URL / per host-template), joinable back onto the frontier by
key without any broadcast of large state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Milli-rate floor: treat anything below 1 change per 8 visits as this
# value so the interval stays finite; 24h base at the floor hits the
# 168h ceiling.
RATE_FLOOR_MILLI = 125


def recrawl_schedule(
    visits: DataFrame,
    url_col: str = "url_id",
    ts_col: str = "ts",
    changed_col: str = "changed",
    base_hours: int = 24,
    min_hours: int = 6,
    max_hours: int = 168,
) -> DataFrame:
    """Per-URL adaptive revisit schedule from a visit log.

    visits: one row per (url, visit ts, changed∈{0,1}). Returns one row
    per url: n_visits, n_changes, change_rate_milli (floor(1000·c/v)),
    interval_hours = clamp(base_hours·1000 div max(rate, 125),
    [min_hours, max_hours]), next_fetch_us = last visit epoch-µs +
    interval_hours·3600·10^6. Integer throughout; timestamps compared
    in unix_micros like every temporal operator in the repo.
    """
    agg = visits.groupBy(F.col(url_col).alias("url_id")).agg(
        F.count("*").alias("n_visits"),
        F.sum(F.col(changed_col).cast("long")).alias("n_changes"),
        F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("last_us"),
    )
    rated = agg.withColumn(
        "change_rate_milli", F.expr("(1000 * n_changes) div n_visits")
    )
    interval = rated.withColumn(
        "interval_hours",
        F.least(
            F.lit(max_hours).cast("long"),
            F.greatest(
                F.lit(min_hours).cast("long"),
                F.expr(
                    f"({base_hours} * 1000) div "
                    f"greatest(change_rate_milli, {RATE_FLOOR_MILLI})"
                ),
            ),
        ),
    )
    return interval.select(
        "url_id",
        "n_visits",
        "n_changes",
        "change_rate_milli",
        "interval_hours",
        (F.col("last_us") + F.col("interval_hours") * F.lit(3_600_000_000)).alias(
            "next_fetch_us"
        ),
    )


def crawl_trap_stats(
    urls: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
    trap_milli: int = 8000,
) -> DataFrame:
    """Per-host URL-template amplification (trap detector).

    Collapses every digit run in the path to 'N' (regexp_replace is
    replace-ALL in both Spark and DuckDB) and reports, per host:
    n_urls (distinct paths), n_templates (distinct collapsed paths),
    amplification_milli = floor(1000·n_urls/n_templates), and
    is_trap = amplification_milli >= trap_milli. A host whose calendar/
    session-id pages explode shows one template with thousands of URLs.
    """
    t = urls.select(
        F.col(host_col).alias("host"),
        F.col(path_col).alias("path"),
        F.regexp_replace(F.col(path_col), "[0-9]+", "N").alias("template"),
    )
    agg = t.groupBy("host").agg(
        F.count_distinct("path").alias("n_urls"),
        F.count_distinct("template").alias("n_templates"),
    )
    return agg.select(
        "host",
        "n_urls",
        "n_templates",
        F.expr("(1000 * n_urls) div n_templates").alias("amplification_milli"),
        (F.expr("(1000 * n_urls) div n_templates") >= F.lit(trap_milli)).alias(
            "is_trap"
        ),
    )


def snapshot_diff(
    prev: DataFrame,
    curr: DataFrame,
    key_col: str = "url_hash",
    fp_col: str = "fp",
) -> DataFrame:
    """Round-over-round change detection: one full-outer join on the
    snapshot key classifying every URL as added / removed / changed /
    unchanged by content fingerprint. This is the signal that FEEDS
    recrawl_schedule (a 'changed' row is a changed=1 visit) and the
    per-round delta report a continuous crawl publishes.

    Scale: a single co-partitioned join on the key both snapshots are
    already bucketed by under SCALE_LAYOUT (url_hash) — zero extra
    exchange on bucketed catalogs; fingerprints are compared
    column-wise, payloads never move."""
    p = prev.select(F.col(key_col).alias(key_col), F.col(fp_col).alias("prev_fp"))
    c = curr.select(F.col(key_col).alias(key_col), F.col(fp_col).alias("curr_fp"))
    j = p.join(c, key_col, "full_outer")
    status = (
        F.when(F.col("prev_fp").isNull(), F.lit("added"))
        .when(F.col("curr_fp").isNull(), F.lit("removed"))
        .when(F.col("prev_fp") != F.col("curr_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(key_col, "prev_fp", "curr_fp", status.alias("status"))


def revalidation_plan(
    snapshots: DataFrame,
    now_ms: int,
    heuristic_ttl_milli: int = 100,
) -> DataFrame:
    """HTTP cache semantics (RFC 9111) as the crawler's refetch planner
    — decide per URL, from the LAST crawl's stored response headers,
    whether this round can skip the fetch, send a cheap conditional
    request, or must refetch in full:

      action='fresh'        age ≤ freshness lifetime — skip entirely
      action='revalidate'   stale but a validator exists — conditional
                            GET (If-None-Match beats If-Modified-Since,
                            RFC 9110 §13.1.3: a 304 costs headers, not
                            a payload)
      action='refetch'      no-store, or stale with no validator
      validator ∈ etag / last-modified / none

    Freshness lifetime: Cache-Control max-age when present (no-store /
    no-cache force their actions first); otherwise the RFC 9111 §4.2.2
    heuristic — a fraction of (fetched − Last-Modified), the classic
    10%, as `heuristic_ttl_milli` in the repo's milli-units. `now_ms`
    is DATA, not wall-clock (repo invariant F11/T3: deterministic
    replay and oracle parity need time passed in, never sampled).

    At a 10^10-URL steady state most of the corpus is unexpired or
    304-able — this operator is the difference between re-downloading
    100 TB per round and re-downloading the delta. Row-local CASE +
    one regexp over the stored header columns: zero shuffles, zero
    Python; the scheduler filters on `action` and joins nothing.

    Output: (url, age_ms, ttl_ms, stale_ms, action, validator).
    """
    age = F.lit(now_ms) - F.col("fetched_ms")
    cc = F.lower(F.coalesce(F.col("cache_control"), F.lit("")))
    max_age_s = F.regexp_extract(cc, r"(?:^|[,\s])max-age=(\d+)", 1)
    has_max_age = max_age_s != ""
    no_store = cc.contains("no-store")
    no_cache = cc.contains("no-cache")
    heuristic = F.when(
        F.col("last_modified_ms").isNotNull(),
        F.expr(
            f"(fetched_ms - last_modified_ms) * {int(heuristic_ttl_milli)} div 1000"
        ),
    )
    ttl = (
        F.when(has_max_age, max_age_s.cast("long") * 1000)
        .when(F.col("last_modified_ms").isNotNull(), heuristic)
        .otherwise(F.lit(0))
    )
    validator = (
        F.when(F.col("etag").isNotNull() & (F.col("etag") != ""), "etag")
        .when(F.col("last_modified_ms").isNotNull(), "last-modified")
        .otherwise("none")
    )
    fresh = (~no_store) & (~no_cache) & (age <= ttl)
    action = (
        F.when(no_store, "refetch")
        .when(fresh, "fresh")
        .when(validator != "none", "revalidate")
        .otherwise("refetch")
    )
    return snapshots.select(
        "url",
        age.cast("long").alias("age_ms"),
        ttl.cast("long").alias("ttl_ms"),
        F.greatest(age - ttl, F.lit(0)).cast("long").alias("stale_ms"),
        action.alias("action"),
        F.when(action == "fresh", "none").otherwise(validator).alias("validator"),
    )


def host_saturation(
    visits: DataFrame,
    novelty_threshold_milli: int = 300,
    k_rounds: int = 3,
) -> DataFrame:
    """Host saturation detection — the stopping rule a broad crawl needs
    as much as a starting one: when a host's novelty rate (new URLs per
    fetched URL) has stayed below the threshold for the k most recent
    consecutive rounds, further budget there is waste and the scheduler
    should decay it (the frontier-side complement of X72's per-URL
    revisit intervals).

    visits: (host, round, fetched, new_count) per-round per-host tallies
    (new_count = first-seen content fingerprints, from the seen path).
    Output per host: n_rounds, last_round, novelty decay streak
    (consecutive below-threshold rounds counting back from last_round;
    equals n_rounds when no round was ever above), and the verdict.

    Scale shape: one (host, round) groupBy, one per-host conditional
    agg for the last above-threshold round, then a host-keyed join back
    for the streak count — three keyed shuffles of round-granular rows
    (#hosts × #rounds, already tiny relative to URL-granular data) and
    no per-host window over anything URL-sized."""
    nv = (
        visits.groupBy("host", "round")
        .agg(F.sum("fetched").alias("f"), F.sum("new_count").alias("nw"))
        .withColumn("novelty_milli", F.expr("1000 * nw div f"))
    )
    thr = F.lit(novelty_threshold_milli)
    last_above = nv.groupBy("host").agg(
        F.max(F.when(F.col("novelty_milli") >= thr, F.col("round"))).alias("_la")
    )
    return (
        nv.join(last_above, "host")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_rounds"),
            F.max("round").alias("last_round"),
            F.sum(
                F.when(
                    F.col("_la").isNull() | (F.col("round") > F.col("_la")), 1
                ).otherwise(0)
            ).alias("streak_below"),
        )
        .withColumn("saturated", F.col("streak_below") >= k_rounds)
    )


DRIFT_STATUSES = ["ok", "retry", "dead", "redirect"]


def status_drift(
    log: DataFrame,
    drift_threshold_milli: int = 400,
) -> DataFrame:
    """Per-host status-mix drift between consecutive crawl rounds — the
    ops alarm for 'this host just started failing differently' (soft
    bans, new bot walls, infra moves) that absolute error rates miss
    when volume changes too. log: (host, round, status, n) tallies over
    the fixed taxonomy (ok/retry/dead/redirect, T2).

    Each (host, round) becomes a 4-column milli distribution
    (conditional sums — one keyed groupBy, statuses are columns not
    rows, so no per-status join fan-out); consecutive rounds pair by an
    equi-join on (host, round+1); drift = Σ_status |milli_a − milli_b|
    (L1 × 1000, range 0..2000). flagged ⇒ drift > threshold."""
    sums = [
        F.sum(F.when(F.col("status") == s, F.col("n")).otherwise(0)).alias(
            f"_n_{s}"
        )
        for s in DRIFT_STATUSES
    ]
    per = log.groupBy("host", "round").agg(F.sum("n").alias("_tot"), *sums)
    for s in DRIFT_STATUSES:
        per = per.withColumn(f"_m_{s}", F.expr(f"1000 * _n_{s} div _tot"))
    a = per.select(
        "host",
        F.col("round").alias("round_from"),
        *[F.col(f"_m_{s}").alias(f"_a_{s}") for s in DRIFT_STATUSES],
    )
    b = per.select(
        "host",
        (F.col("round") - 1).alias("round_from"),
        F.col("round").alias("round_to"),
        *[F.col(f"_m_{s}").alias(f"_b_{s}") for s in DRIFT_STATUSES],
    )
    drift = None
    for s in DRIFT_STATUSES:
        term = F.abs(F.col(f"_a_{s}") - F.col(f"_b_{s}"))
        drift = term if drift is None else drift + term
    return (
        a.join(b, ["host", "round_from"])
        .select(
            "host",
            "round_from",
            "round_to",
            drift.cast("long").alias("drift_milli"),
        )
        .withColumn("flagged", F.col("drift_milli") > drift_threshold_milli)
    )


def robots_revocation_feed(
    robots_log: DataFrame,
    frontier: DataFrame,
    host_col: str = "host",
    round_col: str = "round",
    rules_col: str = "rules_text",
) -> DataFrame:
    """Robots-change revocation sizing: when a host's robots.txt rule
    set CHANGES between consecutive fetches, previously-disallowed URLs
    may have become fetchable, and a crawl that revokes seen entries
    would revoke those hosts' so they re-enter selection. This operator
    detects the changes and sizes the revocation batch; nothing executes
    revocations yet (the Bloom seen index cannot delete).

    Change detection is fingerprint-on-normalized-rules (md5 of the
    whitespace-collapsed rule text — byte noise like comment edits
    still fingerprints equal after collapsing), paired across
    consecutive rounds exactly like X106's status drift (self-join on
    round+1 — gaps emit nothing); the affected-URL count comes from
    one host-keyed join against the frontier's per-host URL counts
    (aggregated BEFORE the join, so the pair table never touches
    URL-level rows).

    Output: (host, round_from, round_to, n_urls_to_revoke) — one row
    per detected change."""
    fp = F.md5(
        F.regexp_replace(F.trim(F.col(rules_col)), r"\s+", " ")
    )
    log = robots_log.select(
        F.col(host_col).alias("host"),
        F.col(round_col).alias("round"),
        fp.alias("_fp"),
    )
    a = log.select(
        F.col("host").alias("_ha"),
        F.col("round").alias("round_from"),
        F.col("_fp").alias("_fa"),
    )
    b = log.select(
        F.col("host").alias("_hb"),
        F.col("round").alias("round_to"),
        F.col("_fp").alias("_fb"),
    )
    changed = (
        a.join(
            b,
            (F.col("_ha") == F.col("_hb"))
            & (F.col("round_to") == F.col("round_from") + 1),
        )
        .filter(F.col("_fa") != F.col("_fb"))
        .select(F.col("_ha").alias("host"), "round_from", "round_to")
    )
    counts = frontier.groupBy(host_col).agg(
        F.count("*").alias("n_urls_to_revoke")
    ).withColumnRenamed(host_col, "host")
    return changed.join(counts, "host", "left").select(
        "host",
        "round_from",
        "round_to",
        F.coalesce("n_urls_to_revoke", F.lit(0)).cast("long").alias(
            "n_urls_to_revoke"
        ),
    )
