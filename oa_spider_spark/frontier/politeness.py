"""Politeness budgets, robots gating, crawl ordering, skew salting.

Reference semantics being generalized:
  * crawl cadence 3 rounds/hour (cron, README_OLD.md:36-42) → per-round
    per-host fetch budgets (O4/O6);
  * listing order `sort=CreatedTime desc` (oa.py:553-569) + docs-then-mails
    concatenation (oa.py:455) + `[:limit]` slice (oa.py:456-459) → one
    deterministic total order;
  * `/word/view` link skip (oa.py:771-773) → robots disallow prefixes.

The total crawl order (FIXTURES.md §2, SURVEY.md §7 hard-part 1):
    (priority DESC, created_ms DESC, kind_rank ASC, url_hash ASC)
url_hash breaks every tie, so the order is total and the Spark job —
which executes unordered — reproduces the reference's sequential order
exactly when sorted. The budget window runs BEFORE the fetch stage:
Catalyst cannot push a limit below an opaque Python stage (SURVEY.md §4),
so the pipeline is authored filter-first — unlike the reference, which
fetches everything and slices afterwards (its documented anti-pattern,
oa.py:444 vs :456-459).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cellrank import cell_offsets, cell_rank, desc_cell, quantize
from ..config import DEFAULT_HOST_BUDGET


def kind_rank(col: Column | str = "kind") -> Column:
    """docs before mails (reference documents.extend(mail_files), oa.py:455)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == "doc", 0).otherwise(1)


def order_cols(df_or_prefix: str = "") -> list[Column]:
    p = df_or_prefix
    return [
        F.col(p + "priority").desc(),
        F.col(p + "created_ms").desc(),
        kind_rank(p + "kind").asc(),
        F.col(p + "url_hash").asc(),
    ]


def robots_allowed(df: DataFrame, hosts: DataFrame | None) -> DataFrame:
    """Broadcast-join the hosts/politeness table (J3) and drop rows whose
    URL path matches a disallow prefix. hosts columns:
    (host, budget_per_round, crawl_delay_ms, robots_disallow array<string>).
    """
    if hosts is None:
        return df.withColumn("budget_per_round", F.lit(None).cast("int"))
    joined = df.join(F.broadcast(hosts), "host", "left")
    # path of url_canon: strip scheme + host[:port], keep the leading slash
    path = F.regexp_replace(
        F.substring_index(F.col("url_canon"), "://", -1), r"^[^/]*", ""
    )
    disallowed = F.exists(
        F.coalesce(F.col("robots_disallow"), F.array().cast("array<string>")),
        lambda p: F.startswith(path, p),
    )
    # Crawl-delay → budget cap: a host allowing one fetch per
    # crawl_delay_ms sustains at most ROUND_PERIOD_MS/crawl_delay_ms
    # fetches in a round's nominal span (sleeps become data, not time).
    from ..config import ROUND_PERIOD_MS

    delay_cap = F.floor(F.lit(ROUND_PERIOD_MS) / F.col("crawl_delay_ms")).cast("int")
    eff_budget = F.when(
        F.col("crawl_delay_ms") > 0,
        F.least(F.coalesce(F.col("budget_per_round"), delay_cap), delay_cap),
    ).otherwise(F.col("budget_per_round"))
    return joined.filter(~disallowed).withColumn("budget_per_round", eff_budget)


def apply_budget(
    df: DataFrame, default_budget: int = DEFAULT_HOST_BUDGET
) -> DataFrame:
    """Per-host top-k under the deterministic crawl order — the engine's
    politeness primitive (replaces the reference's wall-clock cadence)."""
    w = Window.partitionBy("host").orderBy(*order_cols())
    budget = F.coalesce(F.col("budget_per_round"), F.lit(default_budget))
    return (
        df.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= budget)
        .drop("host_rank")
    )


def global_order_and_limit(df: DataFrame, limit: int | None = None) -> DataFrame:
    """Global deterministic order + optional round limit, with the fetch
    sequence number materialized as `fetch_order` (basis of the
    crawl-order equivalence tests).

    A `cell_rank` (cellrank.py) on the first TWO sort keys: `_b` is the
    EXACT negated priority (a clamped bucket would let several priority
    values share a cell, and the `_s` split would interleave them), `_s`
    the negated `quantize`d created_ms — a second-key split under one
    first-key value. With ~100 priority values, a `_b`-only rank would
    still sort ~1% of the frontier in one task. The only driver
    round-trip is a 2-value min/max bounds agg; the selection is
    persisted so the bounds job and the rank job don't re-run the
    upstream DAG."""
    from pyspark import StorageLevel

    inp = df.persist(StorageLevel.MEMORY_AND_DISK)
    bounds = inp.agg(F.min("created_ms").alias("lo"), F.max("created_ms").alias("hi")).collect()[0]
    lo = bounds["lo"] if bounds["lo"] is not None else 0
    hi = bounds["hi"] if bounds["hi"] is not None else lo
    # a NULL created_ms sorts last under DESC: it joins the last `_s`
    # cell, where the full-key window puts it after the real values
    keyed = inp.withColumn("_b", desc_cell("priority")).withColumn(
        "_s", -quantize(f"coalesce(created_ms, {lo}L)", f"{lo}L", f"{hi}L")
    )
    out = (
        cell_rank(keyed, ["_b", "_s"], order_cols())
        .withColumn("fetch_order", F.col("_rank").cast("int"))
        .drop("_b", "_s", "_off", "_rank")
    )
    if limit is not None:
        out = out.filter(F.col("fetch_order") <= limit)
    # let the caller release the cached selection once the round is staged
    out._ordered_cache = inp  # type: ignore[attr-defined]
    return out


def budget_and_order(
    df: DataFrame, default_budget: int = DEFAULT_HOST_BUDGET, limit: int | None = None
) -> DataFrame:
    """Fused politeness budget + global deterministic rank, fully
    distributed (replaces apply_budget → global_order_and_limit on the
    round's hot path).

    `apply_budget`'s per-host window sorts a host's ENTIRE backlog in one
    task — at 40% hot-host share that single sort is O(frontier) serial
    work and caps scaling (measured: the level-independent wall time grew
    from 19 s to 28 s when the round doubled). Decomposing by the leading
    sort key kills it:

      1. rows bucket by clamped priority `_b` (every row of bucket b
         outranks every row of bucket b+1 within its host and globally);
      2. per-(host, _b) counts + a ≤100-row-per-host running sum give
         `take` = how many rows of that cell make the host's budget —
         cells past the cutoff drop without ever being sorted;
      3. `row_number` within (host, _b) — cells are ≈1/100 of a host, so
         the hot host's sort becomes 100 parallel small sorts;
      4. global `fetch_order` = per-_b offsets (≤100-row running sum) +
         `row_number` within _b over the budget survivors.

    Everything is JVM window/agg work on ≤100-row metadata frames except
    the two cell-level windows; there is NO driver collect (scale-safe at
    10^6 hosts: the (host,_b) join is a plain equi-join Catalyst sizes
    itself). For rows with a host, ordering is bit-identical to the
    unfused pipeline — the equivalence suite pins it against the
    sequential simulator. A row with a NULL host has no host budget and
    is dropped here, whereas `apply_budget` ranks all NULL hosts as one
    host."""
    from pyspark import StorageLevel

    inp = df.persist(StorageLevel.MEMORY_AND_DISK)
    # dropped once, before the cell counts: a NULL-host cell counted in
    # the takes (and so in the offsets) but never joined back, leaving a
    # gap in fetch_order
    hosted = inp.filter(F.col("host").isNotNull())
    bucket = F.least(F.greatest(F.lit(99) - F.col("priority"), F.lit(0)), F.lit(99))

    cnts = hosted.groupBy(F.col("host"), bucket.alias("_b")).agg(
        F.count("*").alias("_n"), F.max("budget_per_round").alias("_bud")
    )
    budget = F.coalesce(F.col("_bud"), F.lit(default_budget)).cast("long")
    cum_before = cell_offsets("_n", ["_b"], ["host"])
    takes = (
        cnts.withColumn("_take", F.least(F.col("_n"), F.greatest(budget - cum_before, F.lit(0))))
        .filter(F.col("_take") > 0)
        .select("host", "_b", "_take")
    )

    # global rank offsets over the SELECTED rows: ≤100-row running sum
    offsets = (
        takes.groupBy("_b")
        .agg(F.sum("_take").alias("_sel"))
        .withColumn("_off", cell_offsets("_sel", ["_b"]))
        .select("_b", "_off")
    )

    w_cell = Window.partitionBy("host", "_b").orderBy(*order_cols())
    w_bucket = Window.partitionBy("_b").orderBy(*order_cols())
    out = (
        hosted.withColumn("_b", bucket)
        .join(takes, ["host", "_b"])
        .withColumn("_hr", F.row_number().over(w_cell))
        .filter(F.col("_hr") <= F.col("_take"))
        .withColumn("_rn", F.row_number().over(w_bucket))
        .join(F.broadcast(offsets), "_b")
        .withColumn("fetch_order", (F.col("_off") + F.col("_rn")).cast("int"))
        .drop("_b", "_hr", "_take", "_rn", "_off")
    )
    if limit is not None:
        out = out.filter(F.col("fetch_order") <= limit)
    out._ordered_cache = inp  # type: ignore[attr-defined]
    return out


def salted_repartition(
    df: DataFrame, partitions: int, salt: int | None = None
) -> DataFrame:
    """Repartition for the fetch stage on (host, salt) so one hot host
    spreads over `salt` tasks instead of one (SURVEY.md §4 item 1 — UDF
    stage skew is invisible to AQE's skew-join handling, so it is defused
    at the partitioner).

    `salt=None` (default) is the limiting case salt→∞: partition by
    `url_hash` itself, i.e. per-ROW spread. Every fetch task gets
    total/partitions rows (±hash noise <1% at 10^5+ rows) regardless of
    how skewed the host distribution is, so the stage's wall time is the
    mean, not a straggler's. Coarser alternatives measured worse: a fixed
    salt of 8 → 0.62 scaling efficiency at 4→16 cores (a task hashing 2+
    hot-host buckets runs ~2× the mean); salt=partitions → ~0.66 (Poisson
    collisions of hot-host keys over partitions still leave a 1.5-2×
    tail). Per-host task affinity is irrelevant to correctness — budgets
    were applied upstream, and a real fetch worker keys its connection
    pool by host within whatever batch it receives. Pass an integer
    `salt` for host#bucket keys (k buckets per host) if a deployment
    wants coarse host affinity anyway."""
    if salt is None:
        return df.repartition(partitions, F.col("url_hash"))
    return df.repartition(
        partitions,
        F.concat_ws("#", F.col("host"), F.pmod(F.col("url_hash"), F.lit(salt)).cast("string")),
    )


def parse_robots_txt(df: DataFrame, agent: str = "oa-spider") -> DataFrame:
    """Parse raw robots.txt text into the per-host allow/disallow prefix
    rules `robots_allowed` consumes. The reference hard-codes its one
    politeness rule (skip /word/view links, oa.py:771-773); a deployed
    crawler derives that table from each host's actual robots.txt, so
    this is the upstream producer for the X80 gate.

    Semantics (RFC 9309 / Google REP):
      * a line is `directive: value`; '#' starts a comment; directive
        matching is case-insensitive and tolerates internal whitespace;
      * consecutive User-agent lines form ONE header block sharing the
        rules that follow; any other recognized `key: value` line
        (Crawl-delay, Sitemap, ...) terminates the header run, so a
        later User-agent starts a NEW group; blank/comment-only lines
        never split a group (Google semantics, not the 1994 draft);
      * the crawler obeys only the most specific matching group — an
        exact (case-insensitive) agent match beats '*'; ties collapse
        to the union of rules from all groups at the winning level;
      * rules before any User-agent line are orphans and dropped, as
        are empty-valued Allow/Disallow lines (they impose nothing).

    Input (host, robots_txt) → output one row per effective rule:
    (host, rule in {'allow','disallow'}, prefix), distinct.

    Scale: both windows and every join are keyed by host, and a
    robots.txt is KB-sized, so per-host state is bounded; the result is
    a dimension table meant to be F.broadcast into `robots_allowed`.
    """
    w = Window.partitionBy("host").orderBy("ln")
    lines = df.select(
        "host",
        F.posexplode(F.split(F.col("robots_txt"), "\n")).alias("ln", "raw"),
    )
    clean = F.trim(F.regexp_replace(F.col("raw"), "#.*$", ""))
    parsed = lines.select(
        "host",
        "ln",
        F.lower(F.trim(F.regexp_extract(clean, r"^([A-Za-z-]+)\s*:", 1))).alias(
            "directive"
        ),
        F.trim(F.regexp_extract(clean, r"^[A-Za-z-]+\s*:\s*(.*)$", 1)).alias("value"),
    ).filter(F.col("directive") != "")
    flagged = parsed.withColumn(
        "ng",
        (
            (F.col("directive") == "user-agent")
            & (F.coalesce(F.lag("directive").over(w), F.lit("")) != "user-agent")
        ).cast("int"),
    )
    grouped = flagged.withColumn(
        "gid",
        F.sum("ng").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).filter(F.col("gid") > 0)
    agents = (
        grouped.filter(F.col("directive") == "user-agent")
        .groupBy("host", "gid")
        .agg(
            F.max(
                F.when(F.lower(F.col("value")) == agent.lower(), 2)
                .when(F.col("value") == "*", 1)
                .otherwise(0)
            ).alias("lvl")
        )
    )
    pick = (
        agents.groupBy("host")
        .agg(F.max("lvl").alias("pick"))
        .filter(F.col("pick") > 0)
    )
    chosen = agents.join(pick, "host").filter(F.col("lvl") == F.col("pick"))
    rules = grouped.filter(
        F.col("directive").isin("allow", "disallow") & (F.col("value") != "")
    )
    return (
        rules.join(chosen.select("host", "gid"), ["host", "gid"])
        .select(
            "host",
            F.col("directive").alias("rule"),
            F.col("value").alias("prefix"),
        )
        .distinct()
    )


def rendezvous_shards(
    hosts: DataFrame,
    n_shards: int,
    cap: int,
    host_col: str = "host",
    weight_col: str = "url_count",
    portable: bool = False,
) -> DataFrame:
    """Highest-random-weight (rendezvous) assignment of hosts to fetcher
    shards with a one-round bounded-load spill — the politeness-
    preserving work partition for a fetcher fleet (Thaler–Ravishankar
    1998; bounded loads per Mirrokni et al. 2018). HRW gives the
    stability consistent hashing is used for: adding/removing a shard
    reassigns only the hosts whose argmax changes (~1/K of them), with
    no ring metadata — every shard's score is recomputed row-locally.

    Assignment: primary = argmax_k hash(host ':' k) (ties: lowest k,
    matching the oracle's score DESC, k tiebreak); hosts are then
    admitted to their primary shard in score-descending order until the
    shard's cumulative URL weight exceeds `cap`, and the overflow spills
    to the host's SECOND-best shard (two-choices; one spill round — a
    spilled-into shard may exceed cap by design, documented bound).

    Scale shape: scores/argmax are row-local array expressions. The
    per-shard cumulative admission is a weighted `cell_rank` within
    each shard (a bare per-shard window would put 1/K of all hosts in
    one task). portable=True swaps xxhash64 for md5h60 so a DuckDB
    oracle reproduces every score; n_shards must be >= 2.
    """
    from ..operators.dedup import md5h60

    hf = md5h60 if portable else F.xxhash64
    h = F.col(host_col)
    scores = F.transform(
        F.sequence(F.lit(0), F.lit(n_shards - 1)),
        lambda k: hf(F.concat(h, F.lit(":"), k.cast("string"))),
    )
    base = (
        hosts.select(
            h.alias("host"),
            F.col(weight_col).cast("long").alias("_w"),
            scores.alias("_sc"),
        )
        .withColumn("_best", F.array_max("_sc"))
        .withColumn(
            "primary_shard",
            (F.expr("array_position(_sc, _best)") - 1).cast("int"),
        )
        .withColumn(
            "_second",
            F.array_max(F.filter(F.col("_sc"), lambda s: s != F.col("_best"))),
        )
        .withColumn(
            "secondary_shard",
            (F.expr("array_position(_sc, _second)") - 1).cast("int"),
        )
        .drop("_sc", "_second")
    )
    # cell: trunc-div of the score by a positive constant is weakly
    # monotone (cells are intervals) for signed xxhash64 too, ≤ 256 cells
    q = (1 << 52) if portable else (1 << 56)
    keyed = base.withColumn("_s", -F.expr(f"_best div {q}L"))
    order = [F.col("_best").desc(), F.col("host").asc()]
    return (
        cell_rank(keyed, ["_s"], order, part=["primary_shard"], weight="_w")
        .withColumn(
            "assigned_shard",
            F.when(F.col("_rank") <= cap, F.col("primary_shard")).otherwise(
                F.col("secondary_shard")
            ),
        )
        .withColumn(
            "spilled",
            (F.col("assigned_shard") != F.col("primary_shard")).cast("int"),
        )
        .select("host", "primary_shard", "assigned_shard", "spilled")
    )


def fetch_timeline(
    selected: DataFrame,
    delays: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    order_col: str = "priority",
    t0_ms: int = 0,
    default_delay_ms: int = 1000,
    bucket_span: int = 256,
) -> DataFrame:
    """Per-host fetch schedule honoring crawl-delay: the k-th URL of a
    host (0-based slot, in deterministic priority-then-url order) is
    scheduled at t0 + k * crawl_delay_ms. This is the timeline the
    budget gate's COUNT caps don't give you — the reference sleeps
    between sequential fetches (time.sleep politeness); at fleet scale
    the sleep becomes a precomputed schedule column workers obey.

    Scale shape: the per-host rank is a `cell_rank` within each host (a
    hot host with 10^7 pending URLs would otherwise sort in one task).
    Cell: the priority `div bucket_span` — trunc-div by a positive
    constant is monotone and keeps NULL priorities first, as ASC does.
    Hosts absent from the delays table get default_delay_ms (left
    join + coalesce against a broadcast delays frame)."""
    s = selected.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("url"),
        F.col(order_col).cast("long").alias("_o"),
    )
    keyed = s.withColumn("_b", F.expr(f"_o div {int(bucket_span)}L"))
    order = [F.col("_o").asc(), F.col("url").asc()]
    slotted = cell_rank(keyed, ["_b"], order, part=["host"]).withColumn(
        "slot", (F.col("_rank") - 1).cast("long")
    )
    d = delays.select(
        F.col(host_col).alias("host"),
        F.col("crawl_delay_ms").cast("long").alias("_d"),
    )
    return slotted.join(F.broadcast(d), "host", "left").select(
        "host",
        "url",
        "slot",
        (
            F.lit(t0_ms)
            + F.col("slot") * F.coalesce(F.col("_d"), F.lit(default_delay_ms))
        ).alias("scheduled_ms"),
    )


def robots_wildcard_decisions(
    candidates: DataFrame,
    rules: DataFrame,
    path_col: str = "path",
) -> DataFrame:
    """Full RFC 9309 §2.2.2/§2.2.3 rule matching: '*' wildcards, '$'
    end anchors, longest-match precedence (specificity = pattern octet
    length, Google REP), allow beating disallow on ties, and
    allow-by-default when nothing matches. Upgrades `robots_allowed`'s
    prefix-only fast path to the semantics real robots.txt files use —
    X91's parser already emits these patterns verbatim.

    Each pattern is translated ONCE, dimension-side, into an anchored
    regex (metachars escaped, escaped '*' → '.*', optional '$'); the
    per-candidate probe is a JVM rlike for wildcard rules and a plain
    startswith for the pure-prefix majority — the regex path never
    touches the ~90% of real rules that have no metacharacter. Rules
    are a broadcast dimension; the only aggregation is the per-(host,
    path) argmax over (specificity, allow-wins) as a struct max — one
    keyed shuffle of the candidate set.

    candidates: (host, <path_col>, ...) — one decision per distinct
    (host, path). rules: (host, rule in {'allow','disallow'}, pattern).
    Output: host, path, allowed, win_rule, win_spec (-1 = no match)."""
    dollar = F.endswith("pattern", F.lit("$"))
    core = F.when(
        dollar, F.expr("substring(pattern, 1, length(pattern)-1)")
    ).otherwise(F.col("pattern"))
    esc = F.regexp_replace(core, r"([\\.\[\]\{\}\(\)\*\+\-\?\^\$\|])", r"\\$1")
    rx = F.concat(
        F.lit("^"),
        F.replace(esc, F.lit(r"\*"), F.lit(".*")),
        F.when(dollar, F.lit("$")).otherwise(F.lit("")),
    )
    rdim = rules.select(
        "host",
        F.col("pattern"),
        (F.col("rule") == "allow").cast("int").alias("_is_allow"),
        F.length("pattern").cast("long").alias("_spec"),
        (F.col("pattern").contains("*") | dollar).alias("_wild"),
        rx.alias("_rx"),
    )
    c = candidates.select("host", F.col(path_col).alias("path"))
    j = c.join(F.broadcast(rdim), "host", "left")
    hit = F.when(F.col("_wild"), F.expr("path rlike _rx")).otherwise(
        F.startswith(F.col("path"), F.col("pattern"))
    )
    win = F.max(
        F.when(hit, F.struct(F.col("_spec"), F.col("_is_allow")))
    ).alias("_w")
    return (
        j.groupBy("host", "path")
        .agg(win)
        .select(
            "host",
            "path",
            F.coalesce(F.col("_w._is_allow") == 1, F.lit(True)).alias("allowed"),
            F.when(F.col("_w").isNull(), "none")
            .when(F.col("_w._is_allow") == 1, "allow")
            .otherwise("disallow")
            .alias("win_rule"),
            F.coalesce(F.col("_w._spec"), F.lit(-1).cast("long")).alias("win_spec"),
        )
    )


def adaptive_crawl_delay(
    fetch_log: DataFrame,
    host_col: str = "host",
    latency_col: str = "elapsed_ms",
    permille: int = 950,
    width: int = 64,
    factor_milli: int = 2000,
    min_delay_ms: int = 100,
    max_delay_ms: int = 5000,
) -> DataFrame:
    """Latency-adaptive politeness: crawl_delay = clamp(p95 latency ×
    factor, min, max) per host — the control loop that closes T5's
    static budgets against observed server health (a host answering in
    40 ms can absorb a faster cadence than one struggling at 2 s; a
    struggling host gets backed off before the retry taxonomy ever
    fires). Built on the MERGEABLE histogram sketch (X75): per-host
    shuffle volume is latency_range/width rows per round regardless of
    fetch count, and round sketches union into longer-horizon delays
    for free. All integer: the p95 estimate is the sketch's inclusive
    bucket upper bound, factor applied in milli via div."""
    from ..operators.sketch import histogram_quantiles, histogram_sketch

    sk = histogram_sketch(
        fetch_log.select(F.col(host_col).alias("host"), F.col(latency_col)),
        ["host"],
        latency_col,
        width,
    )
    q = histogram_quantiles(sk, ["host"], (permille,), width)
    delay = F.expr(f"estimate * {int(factor_milli)} div 1000")
    return q.select(
        "host",
        "n",
        F.col("estimate").alias("p95_ms"),
        F.least(
            F.lit(max_delay_ms).cast("long"),
            F.greatest(F.lit(min_delay_ms).cast("long"), delay),
        ).alias("crawl_delay_ms"),
    )


def byte_budget_select(
    candidates: DataFrame,
    budget_bytes: int,
    url_col: str = "url",
    prio_col: str = "priority",
    bytes_col: str = "est_bytes",
    prefix_len: int = 5,
) -> DataFrame:
    """Bandwidth-budget admission: take candidates in deterministic
    (priority DESC, url) order until cumulative estimated payload bytes
    exceed the round's byte budget — the greedy knapsack a fetch fleet
    runs when the constraint is egress, not URL count (O4's budget caps
    rows; this caps bytes, and X72/X97's size estimates feed it).

    Scale shape: the global running sum is a weighted `cell_rank`.
    Cell: (exact negated priority, url PREFIX) — a prefix split under
    one priority value, and a string prefix is a monotone coarsening of
    the url order. Output: every candidate with its cumulative position
    and the admission verdict."""
    keyed = candidates.select(
        F.col(url_col).alias("url"),
        F.col(prio_col).cast("long").alias("priority"),
        F.col(bytes_col).cast("long").alias("est_bytes"),
        desc_cell(prio_col).alias("_p"),
        F.substring(F.col(url_col), 1, prefix_len).alias("_pre"),
    )
    order = [F.col("priority").desc(), F.col("url").asc()]
    return (
        cell_rank(keyed, ["_p", "_pre"], order, weight="est_bytes")
        .withColumn("cum_bytes", F.col("_rank"))
        .withColumn("selected", F.col("cum_bytes") <= budget_bytes)
        .select("url", "priority", "est_bytes", "cum_bytes", "selected")
    )


def politeness_audit(
    fetches: DataFrame,
    delays: DataFrame,
    default_delay_ms: int = 1000,
) -> DataFrame:
    """Compliance audit: did the fleet actually honor each host's
    crawl-delay? Per host, the observed inter-fetch gaps (lag over the
    fetch timestamps) are checked against the declared delay; the
    output is the per-host violation census the crawl operator reviews
    (and the evidence to show a webmaster). fetches: (host, ts_us);
    delays: (host, crawl_delay_ms), absentees take the default.

    Scale shape: ONE window partitioned by host ordered by ts_us — the
    politeness budget bounds a host's fetches per round, so the
    partition is budget-sized by construction (the same invariant the
    scheduler enforces is what makes its audit cheap). Output: host,
    n_fetches, min_gap_us, violations, compliant."""
    d = delays.select(
        "host", F.col("crawl_delay_ms").cast("long").alias("_d")
    )
    w = Window.partitionBy("host").orderBy("ts_us")
    gaps = (
        fetches.select("host", F.col("ts_us").cast("long"))
        .withColumn("_gap", F.col("ts_us") - F.lag("ts_us").over(w))
        .join(F.broadcast(d), "host", "left")
        .withColumn("_delay_us", F.coalesce(F.col("_d"), F.lit(default_delay_ms)) * 1000)
    )
    return gaps.groupBy("host").agg(
        F.count("*").alias("n_fetches"),
        F.min("_gap").alias("min_gap_us"),
        F.sum(
            F.when(F.col("_gap") < F.col("_delay_us"), 1).otherwise(0)
        ).alias("violations"),
        (
            F.sum(
                F.when(F.col("_gap") < F.col("_delay_us"), 1).otherwise(0)
            ) == 0
        ).alias("compliant"),
    )


def ip_cohost_caps(
    hosts: DataFrame,
    host_col: str = "host",
    ip_col: str = "ip",
    demand_col: str = "demand",
    per_ip_cap: int = 300,
    cohost_min: int = 3,
) -> DataFrame:
    """Infrastructure-level politeness: hostnames sharing one IP (or
    /24, or CDN edge) share ONE origin server, so per-HOST budgets
    (X14/X86's eTLD+1 caps) silently multiply load on shared hosting —
    a crawler that is polite per-name can still hammer a box serving
    10^4 vhosts. This rolls demand up to the IP, and where the summed
    demand exceeds the per-IP cap, splits the cap among co-hosted
    hosts proportionally with LARGEST-REMAINDER rounding (X89's
    template) so the grants sum to the cap EXACTLY; under-cap IPs pass
    demand through untouched.

    All integer: base = cap·d div D, the `D − Σbase` leftover seats go
    to the largest remainders (ties by host name). The in-IP windows
    are fan-in-bounded (hosts per IP — shared hosting tops out around
    10^5 names on one address, kilobytes per window task); flat-zero
    demand guards the division per the ANSI discipline.

    Output: host, ip, demand, n_cohosts, granted, co_hosted (cluster
    ≥ cohost_min), throttle_milli (1000·granted div demand, 1000 when
    demand is 0)."""
    w_ip = Window.partitionBy(ip_col)
    cap = int(per_ip_cap)
    t = (
        hosts.select(host_col, ip_col, F.col(demand_col).alias("demand"))
        .withColumn("_D", F.sum("demand").over(w_ip))
        .withColumn("n_cohosts", F.count("*").over(w_ip))
        .withColumn(
            "_base",
            F.expr(f"CASE WHEN _D = 0 THEN 0 ELSE ({cap} * demand) div _D END"),
        )
        .withColumn(
            "_rem",
            F.expr(f"CASE WHEN _D = 0 THEN 0 ELSE ({cap} * demand) % _D END"),
        )
    )
    t = t.withColumn("_deficit", F.lit(cap) - F.sum("_base").over(w_ip)).withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy(ip_col).orderBy(
                F.col("_rem").desc(), F.col(host_col)
            )
        ),
    )
    granted = F.expr(
        f"CASE WHEN _D <= {cap} THEN demand "
        "ELSE _base + (CASE WHEN _rk <= _deficit THEN 1 ELSE 0 END) END"
    )
    out = t.withColumn("granted", granted.cast("long"))
    return out.select(
        host_col,
        ip_col,
        F.col("demand").cast("long").alias("demand"),
        F.col("n_cohosts").cast("long").alias("n_cohosts"),
        "granted",
        (F.col("n_cohosts") >= cohost_min).alias("co_hosted"),
        F.expr(
            "CASE WHEN demand = 0 THEN 1000 "
            "ELSE 1000 * granted div demand END"
        ).cast("long").alias("throttle_milli"),
    )


def hrw_movement_audit(
    hosts: DataFrame,
    n_shards: int,
    n_shards_after: int,
    host_col: str = "host",
    portable: bool = False,
) -> DataFrame:
    """Fleet-growth stability audit for X100's rendezvous sharding:
    compute every host's HRW primary at K and at K' > K fleet sizes in
    ONE row-local pass and report, per old shard, exactly how many
    hosts move — the measured form of the ~ (K'-K)/K' movement bound
    that justifies consistent placement (scaling a fetcher fleet must
    not re-shuffle the politeness state of every host).

    HRW scores for shards k < K are IDENTICAL at both fleet sizes, so
    a host moves iff one of the K'-K new shards beats its old argmax —
    the audit needs no joins at all: two array argmaxes per row
    (first-occurrence position = lowest-k tie-break, matching
    rendezvous_shards), then one shard-keyed aggregate.

    Output: (shard_old, n_hosts, moved_out, moved_milli); every moved
    host lands on a NEW shard by the prefix-identity property, which
    the unit test pins. portable=True uses md5h60 for oracle parity."""
    from ..operators.dedup import md5h60

    hf = md5h60 if portable else F.xxhash64
    h = F.col(host_col)

    def argmax(n: int):
        scores = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda k: hf(F.concat(h, F.lit(":"), k.cast("string"))),
        )
        return (F.array_position(scores, F.array_max(scores)) - 1).cast(
            "long"
        )

    assigned = hosts.select(
        argmax(n_shards).alias("shard_old"),
        argmax(n_shards_after).alias("shard_new"),
    )
    return (
        assigned.groupBy("shard_old")
        .agg(
            F.count("*").alias("n_hosts"),
            F.sum(
                (F.col("shard_new") != F.col("shard_old")).cast("long")
            ).alias("moved_out"),
        )
        .withColumn(
            "moved_milli", F.expr("1000 * moved_out div n_hosts")
        )
    )


def priority_aging(
    frontier: DataFrame,
    current_round: int,
    priority_col: str = "priority",
    created_round_col: str = "created_round",
    boost_every: int = 2,
    starve_rounds: int = 3,
) -> DataFrame:
    """Anti-starvation priority aging + the starvation census. A pure
    priority queue starves the tail forever: a low-priority URL behind
    a fat high-priority backlog never ages out of the frontier (the
    classic scheduler problem; the fix is the classic aging answer —
    effective priority grows with wait time, so everything eventually
    drains). effective = base + waited div boost_every, all integers,
    row-local, and the result feeds the existing two-level
    global_order_and_limit unchanged (aging only changes the VALUE
    being bucketed, not the ordering machinery).

    Output: one row per base priority class — n_urls, max_wait,
    n_starved (waited >= starve_rounds), n_boosted (effective > base),
    the census a crawl operator reads to tune boost_every. The per-URL
    effective priority is a trivial projection of the same expression;
    this returns the decision artifact."""
    waited = F.lit(int(current_round)) - F.col(created_round_col)
    eff = F.col(priority_col) + F.expr(
        f"({int(current_round)} - {created_round_col}) div {int(boost_every)}"
    )
    rows = frontier.select(
        F.col(priority_col).alias("base_priority"),
        waited.alias("_w"),
        (eff > F.col(priority_col)).alias("_b"),
    )
    return (
        rows.groupBy("base_priority")
        .agg(
            F.count("*").alias("n_urls"),
            F.max("_w").cast("long").alias("max_wait"),
            F.sum((F.col("_w") >= starve_rounds).cast("long")).alias(
                "n_starved"
            ),
            F.sum(F.col("_b").cast("long")).alias("n_boosted"),
        )
    )
