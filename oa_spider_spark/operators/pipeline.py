"""Training-data pipeline operators: the corpus-curation steps that sit
downstream of crawl + dedup when the crawled pages become an LLM training
set. Everything is native column expressions / partitioned windows — no
Python in any hot path, no global windows, no driver-side data loops.

Reference tie-in: the reference crawler materializes documents and
attachments (oa-spider `oa.py` download paths); these operators are the
standard post-processing a 100-TB crawl needs before training: pick one
representative per near-dup cluster, stratify the language mix, chunk to
context windows, screen for benchmark contamination, scrub PII, and
aggregate per-language embedding statistics.

Scale notes (100 TB):
* cluster_representatives — windows partitioned by component_id; a
  component is a near-dup cluster (bounded small by construction — LSH
  threshold 0.8), so no single task ever sees more than one cluster.
* stratified_sample — pure column expressions, zero shuffle: the sample
  decision is a deterministic hash of the row key, so the same row is
  kept or dropped on any cluster size (no sampling RNG, no seed drift
  across retries — retry-safe by construction).
* doc_frequency_topk — one groupBy shuffle with map-side combine, then
  TakeOrderedAndProject (never a global sort of the token table).
* chunk_documents — per-row array arithmetic + one explode; output rows
  ≈ input tokens / stride, linear, no shuffle.
* contamination_check — the benchmark shingle set is tiny relative to
  the corpus (benchmarks are thousands of docs, the corpus billions), so
  it is broadcast; the probe side streams map-side, no shuffle of corpus
  shingles.
* redact_pii — regexp_replace / regexp_extract_all are JVM codegen'd.
* lang_centroid_quantized — embeddings are quantized to integer
  micro-units BEFORE the sum so the aggregation is exact integer math:
  bit-identical on any partitioning / AQE re-plan (float sums are
  accumulation-order-dependent and would not survive a value oracle).
* sessionize — windows partitioned by user_id: per-user event streams
  are bounded, billions of users spread across tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cellrank import cell_rank, desc_cell, quantize
from .dedup import md5h60


def cluster_representatives(
    docs: DataFrame, components: DataFrame, prefer_col: str = "n_chars"
) -> DataFrame:
    """Deduplicated corpus: one representative per near-dup cluster.

    `components` is (doc_id, component_id) from connected_components over
    near-dup pairs; docs absent from it are singletons (their own
    component). Keep policy: max `prefer_col`, tie → min doc_id —
    deterministic, so the kept corpus is reproducible run-to-run.

    Returns one row per KEPT doc: (doc_id, component_id, n_members,
    rep_len) — the post-dedup training corpus with cluster lineage.
    """
    labeled = (
        docs.join(components, "doc_id", "left")
        .withColumn("component_id", F.coalesce("component_id", F.col("doc_id")))
    )
    w = Window.partitionBy("component_id")
    ranked = labeled.select(
        "doc_id",
        "component_id",
        F.col(prefer_col).alias("rep_len"),
        F.count("*").over(w).alias("n_members"),
        F.row_number()
        .over(w.orderBy(F.col(prefer_col).desc(), F.col("doc_id").asc()))
        .alias("_rk"),
    )
    return ranked.filter(F.col("_rk") == 1).drop("_rk")


def stratified_sample(
    docs: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int = 100,
    strat_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling for training-mix control.

    The keep decision is md5h60('strat:' || key) % 1000 < rate[stratum]:
    a pure function of the row key, so it needs no RNG state, commutes
    with any repartition, and is stable under retries/speculative tasks
    (a property sample(fraction=) does NOT have across stage re-runs).
    Filter is evaluated at the scan — prunes before any downstream work.
    """
    key = md5h60(F.concat(F.lit("strat:"), F.col(key_col).cast("string")))
    rate = F.lit(default_permille)
    for stratum, permille in sorted(rates_permille.items()):
        rate = F.when(F.col(strat_col) == stratum, permille).otherwise(rate)
    return docs.withColumn("strat_key", (key % 1000).cast("int")).filter(
        F.col("strat_key") < rate
    )


def doc_frequency_topk(
    docs: DataFrame, text_col: str = "text", k: int = 20
) -> DataFrame:
    """Corpus-level document frequency → top-k tokens (stopword
    discovery / vocab stats). array_distinct BEFORE explode keeps the
    shuffle to one row per (doc, distinct token); the top-k is a
    TakeOrderedAndProject (per-partition heaps), never a global sort."""
    tok = F.explode(
        F.array_distinct(F.split(F.col(text_col), " "))
    ).alias("token")
    return (
        docs.select(tok)
        .groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(k)
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 24,
    portable_hash: bool = True,
) -> DataFrame:
    """Split documents into overlapping token windows (context-window
    packing for training). Chunk i covers tokens [i*stride, i*stride +
    chunk_tokens); the last chunk may be short. Per-row array arithmetic
    + one explode — linear output, no shuffle, no Python.

    Returns (doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_text,
    chunk_hash)."""
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n_tok - 1, F.lit(0)), F.lit(stride)
    )
    chunk = F.explode(
        F.transform(
            starts,
            lambda s: F.struct(
                (s / stride).cast("int").alias("chunk_idx"),
                s.cast("int").alias("start_tok"),
                F.array_join(F.slice(toks, s + 1, chunk_tokens), " ").alias(
                    "chunk_text"
                ),
                F.size(F.slice(toks, s + 1, chunk_tokens)).alias(
                    "n_chunk_tokens"
                ),
            ),
        )
    ).alias("c")
    hf = md5h60 if portable_hash else F.xxhash64
    return docs.select("doc_id", chunk).select(
        "doc_id",
        "c.chunk_idx",
        "c.start_tok",
        "c.n_chunk_tokens",
        "c.chunk_text",
        hf(F.col("c.chunk_text")).alias("chunk_hash"),
    )


def contamination_check(
    probe: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    gram_words: int = 5,
    flag_ratio: float = 0.1,
) -> DataFrame:
    """Benchmark-contamination screen: fraction of a doc's word n-grams
    that appear anywhere in the benchmark set (the standard train-set
    decontamination check before an eval release).

    The benchmark shingle set is distinct-collapsed and BROADCAST — at
    100 TB the corpus side streams map-side against it; corpus shingles
    are never shuffled. Returns every probe doc: (doc_id, n_shingles,
    n_overlap, contam_ratio, contaminated)."""
    def grams(df: DataFrame) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        idx = F.sequence(
            F.lit(1), F.greatest(F.size(toks) - gram_words + 1, F.lit(1))
        )
        g = F.transform(
            idx, lambda i: md5h60(F.array_join(F.slice(toks, i, gram_words), " "))
        )
        return df.select(
            "doc_id", F.explode(F.array_distinct(g)).alias("gram_hash")
        )

    bench_set = F.broadcast(
        grams(benchmark).select("gram_hash").distinct().withColumn(
            "_hit", F.lit(1)
        )
    )
    joined = grams(probe).join(bench_set, "gram_hash", "left")
    per_doc = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
    )
    ratio = F.col("n_overlap") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round(ratio, 6).alias("contam_ratio"),
        (ratio >= flag_ratio).alias("contaminated"),
    )


# PII patterns kept to a regex subset with identical semantics in Java
# (Spark codegen) and RE2 (DuckDB oracle): character classes, bounded
# repetition, ASCII \b word boundaries — no backrefs, no lookaround
# (RE2 has neither). The email classes include '-'/'+' so
# 'user+tag@my-site.com' redacts whole (not leaving '-site.com'); the
# phone is \b-anchored so it never fires inside a longer digit run.
# Deliberately NOT covered (documented subset): non-ASCII local parts,
# quoted local parts, formatted phones ('+86 138-…' — the reference's
# directory pages carry bare 11-digit CN numbers, oa.py address book).
EMAIL_RE = "[A-Za-z0-9._+-]+@[A-Za-z0-9.-]+"
PHONE_RE = r"\b1[0-9]{10}\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails and CN-style 11-digit phone numbers (the reference's
    user-directory pages carry both; oa.py address-book scrape). Counts
    come from the raw text, the redaction replaces emails first (emails
    contain digit runs; phones never contain '@'). Pure JVM regex —
    codegen'd, no Python."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        redacted.alias("redacted"),
    )


def lang_centroid_quantized(
    docs: DataFrame,
    emb: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-language embedding centroid in integer micro-units.

    Each float is quantized floor(x * scale) BEFORE aggregation, so the
    per-(lang, dim) sum is exact integer arithmetic — bit-identical
    under any partitioning, AQE re-plan, or retry. (A float sum's value
    depends on accumulation order; quantize-then-sum is how you make a
    distributed centroid reproducible AND value-oracle-able.)

    Returns (lang, dim, n, sum_q, mean_q) with mean_q =
    floor(sum_q / n) still in micro-units."""
    q = F.floor(F.col("x").cast("double") * scale).cast("long")
    exploded = (
        docs.select("doc_id", "lang")
        .join(emb, docs.doc_id == emb.vec_id)
        .select("lang", F.posexplode(vec_col).alias("dim", "x"))
        .select("lang", "dim", q.alias("q"))
    )
    agg = exploded.groupBy("lang", "dim").agg(
        F.count("*").alias("n"), F.sum("q").alias("sum_q")
    )
    return agg.select(
        "lang",
        "dim",
        "n",
        "sum_q",
        F.floor(F.col("sum_q") / F.col("n")).cast("long").alias("mean_q"),
    )


def sessionize(
    events: DataFrame, gap_s: int = 21600, user_col: str = "user_id"
) -> DataFrame:
    """Gap-based sessionization of the event log (crawl telemetry →
    per-user activity sessions). A new session starts when the gap to
    the previous event exceeds `gap_s`. Timestamps compared in integer
    MICROseconds (unix_micros) — no float time math, no truncation
    ambiguity against the oracle's epoch_us. Parquet TIMESTAMP_NTZ is
    cast to timestamp first (wall time read in the session zone; the
    engine pins spark.sql.session.timeZone=UTC, matching the oracle's
    naive epoch_us).

    Windows are partitioned by user — per-user streams are bounded, so
    this scales by user count, not log size. Returns (user_id,
    session_seq, n_events, start_us, end_us, duration_us)."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(us, "event_id")
    new_sess = (
        F.when(F.lag(us).over(w).isNull(), 1)
        .when(us - F.lag(us).over(w) > gap_s * 1_000_000, 1)
        .otherwise(0)
    )
    seq = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = events.select(
        F.col(user_col).alias("user_id"), us.alias("us"), seq.alias("session_seq")
    )
    return tagged.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


def exact_percentiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    permilles: tuple[int, ...] = (500, 950, 990),
) -> DataFrame:
    """Exact per-group percentiles via value-domain compression — the
    scalable EXACT alternative to percentile_approx when the value
    domain is bounded (here: telemetry quantized to integer cents).

    Phase 1 collapses the stream to a (key, value) histogram — one
    groupBy shuffle with map-side combine, output rows ≤ |keys|·|domain|
    regardless of input size. Phase 2 windows over the HISTOGRAM
    (thousands of rows per key, not billions — windowing the raw stream
    by a low-cardinality key would funnel whole groups into single
    tasks; see CLAUDE.md window guardrails) for cumulative counts, then
    one conditional agg picks each nearest-rank value.

    Rank math is all-integer (r_p = (n-1)*permille DIV 1000 + 1,
    nearest-rank/type-1), so the DuckDB oracle is bit-trivial.
    """
    k, v = F.col(key_col), F.col(value_col)
    hist = df.groupBy(k.alias("k"), v.alias("v")).agg(
        F.count("*").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("k")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("k")
    scored = hist.select(
        "k",
        "v",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_tot).alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    for pm in permilles:
        rank = (F.col("n") - 1) * pm / F.lit(1000)
        rank = F.floor(rank).cast("long") + 1
        aggs.append(
            F.min(F.when(F.col("cum") >= rank, F.col("v"))).alias(f"p{pm}")
        )
    return scored.groupBy("k").agg(*aggs).withColumnRenamed("k", key_col)


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    key: str,
    row_key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-proof equi-join for the large×medium shape where `dim` is too
    big to broadcast and `big`'s join-key distribution is hot (a handful
    of keys carry most rows — the per-host fetch problem generalized).

    A plain hash join shuffles `big` on `key`, so one hot key lands in
    ONE task. Here `big` is salted by a hash of `row_key` (the row's own
    id — salting by the JOIN key would put the hot key in one salt and
    change nothing) and `dim` is replicated n_salts× via a sequence
    explode, joining on (key, salt): a hot key's rows spread over
    n_salts tasks, at the cost of an n_salts× blow-up of the SMALL side
    only. shuffle_hash hint pins the strategy (without it, a tiny test
    dim would auto-broadcast and hide the mechanism the plan tests pin).

    Result is row-identical to `big JOIN dim USING (key)` — the salt is
    an implementation detail that never changes the match set.
    """
    salt = F.pmod(F.xxhash64(F.col(row_key)), F.lit(n_salts)).cast("int")
    b = big.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).hint("shuffle_hash")
    out = b.join(d, [key, "_salt"])
    return out.drop("_salt")


def systematic_weighted_sample(
    df: DataFrame,
    weight_col: str = "n_chars",
    k: int = 100,
    order_col: str = "doc_id",
) -> DataFrame:
    """Exactly-k systematic PPS sample: row i gets
    ``n_picks = floor(k·cum_i/W) − floor(k·cum_{i−1}/W)`` picks, where
    cum is the running weight total in `order_col` order and W the grand
    total — inclusion probability ∝ weight, Σ n_picks = k exactly, rows
    heavier than W/k can be picked multiple times (PPS with
    replacement). Returns rows with n_picks ≥ 1 plus the count.

    Deterministic by construction: pure BIGINT arithmetic (k·W must fit
    63 bits — k≤10⁶ against multi-TB char totals is fine), no RNG, no
    transcendentals. A-ES weighted reservoirs (keys u^(1/w)) were
    rejected for the oracle surface: ln/pow rounding is not bit-stable
    across engines, and near-tie keys would then flip sample membership.

    Scale shape: the cumulative sum is a weighted `cell_rank`. Cell:
    the `quantize`d order key — a range split is a monotone coarsening
    of it. The only driver round-trip is one bounds agg (min, max and
    the grand total W).
    """
    w = F.coalesce(F.col(weight_col), F.lit(0)).cast("long")
    b = df.agg(
        F.min(order_col).alias("lo"), F.max(order_col).alias("hi"), F.sum(w).alias("tot")
    ).collect()[0]
    lo = b["lo"] if b["lo"] is not None else 0
    hi = b["hi"] if b["hi"] is not None else lo
    tot = b["tot"] or 0
    data = df.select(order_col, F.col(weight_col), w.alias("_w")).withColumn(
        "_b", quantize(order_col, f"{lo}L", f"{hi}L")
    )
    picks = cell_rank(data, ["_b"], [F.col(order_col)], weight="_w")
    n_picks = F.expr(f"({k} * _rank) div {tot} - ({k} * (_rank - _w)) div {tot}")
    return (
        picks.withColumn("n_picks", n_picks.cast("long"))
        .filter(F.col("n_picks") >= 1)
        .select(order_col, weight_col, "n_picks")
    )


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    bounds: tuple = (80, 90),
    names: tuple = ("train", "val", "test"),
    salt: str = "split",
    portable: bool = False,
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket =
    hash(salt:key) mod 100, split by `bounds` percentile cuts. The
    assignment is a pure function of the key — stable across runs,
    clusters, partitionings, and corpus growth (a doc never migrates
    between splits when new docs arrive; the property random splits
    lack and the reason every production pipeline splits by hash).
    Zero shuffle: one row-local hash + case expression.

    Default hash is xxhash64 (scale path); portable=True swaps md5h60
    so the DuckDB oracle reproduces assignments bit-exactly."""
    from .dedup import md5h60

    hf = md5h60 if portable else F.xxhash64
    b = F.pmod(
        hf(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))), F.lit(100)
    )
    split = (
        F.when(b < bounds[0], names[0])
        .when(b < bounds[1], names[1])
        .otherwise(names[2])
    )
    return df.withColumn("split", split)


def grouped_sample_exact_k(
    df: DataFrame,
    group_col: str = "lang",
    key_col: str = "doc_id",
    k: int = 20,
    margin: int = 8,
    salt: str = "gsamp",
    portable: bool = False,
) -> DataFrame:
    """Exactly min(k, |group|) rows per group, chosen by hash rank —
    the balanced-mixture sampler (k docs per language/source/domain, a
    different contract from X21's fixed-RATE stratified sample and
    X46's global exactly-k).

    The naive formulation is `row_number() OVER (PARTITION BY group
    ORDER BY hash) <= k` on the raw table — with few groups that is a
    handful of window tasks each sorting n/|groups| rows (the
    single-key-window scale hazard this repo bans). Instead: hashes
    are uniform on [0, 2^60), so the k-th smallest per group sits near
    k/n_g of the space. Filter to `h < (2^60 div n_g)·(margin·k)` first
    — an expected margin·k survivors per group — then window over THAT
    metadata-sized set. One count aggregate + one broadcast join + one
    tiny window; the big table is touched by a row-local filter only.

    Exactness: P(a group of n_g ≥ margin·k rows yields < k survivors)
    is Chernoff-bounded by exp(-k·(margin-1)²/(2·margin)) ≈ e^-306 at
    the defaults — not a practical failure mode, and any group smaller
    than margin·k skips the filter entirely (cutoff = full space).
    Survivor sets are integer-exact, so the DuckDB oracle matches
    row-for-row."""
    from .dedup import md5h60

    hf = md5h60 if portable else (lambda c: F.pmod(F.xxhash64(c), F.lit(1 << 60)))
    h = hf(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")))
    space, cap = 1 << 60, margin * k
    counts = df.groupBy(group_col).agg(F.count("*").alias("_ng"))
    cutoffs = counts.withColumn(
        "_cut",
        F.expr(
            f"CASE WHEN _ng <= {cap} THEN {space}L"
            f" ELSE ({space}L div _ng) * {cap} END"
        ),
    )
    from pyspark.sql import Window

    survivors = (
        df.withColumn("_h", h)
        .join(F.broadcast(cutoffs.select(group_col, "_cut")), group_col)
        .filter(F.col("_h") < F.col("_cut"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("_h"), F.col(key_col))
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_h", "_cut")
    )


def bloom_filter_join(
    big: DataFrame,
    keys: DataFrame,
    key_col: str,
    how: str = "left_semi",
    fpp: float = 0.01,
    n_shards: int = 32,
) -> DataFrame:
    """Runtime-filter join: semi/anti-join `big` against `keys` with a
    sharded Bloom prefilter so most of `big` never reaches the shuffle
    — the manual version of Spark's runtime bloom-filter injection
    (spark.sql.optimizer.runtime.bloomFilter), which provably never
    fires on this workload's plan shapes (BENCH notes), generalized
    from the crawl's seen-path (frontier/seen.py, J2).

    Exactness: the filter is a superset of `keys`' hash set, so a
    Bloom MISS is definitive — for left_semi those rows drop before
    any join; for left_anti they pass through without joining. Only
    the maybe-set (hits ∪ false positives, ~fpp of the misses) pays
    the exact confirm join. Row-identical to
    `big.join(keys, key_col, how)` by construction — the oracle IS the
    plain join.

    Scale shape: keys aggregate into n_shards bitmaps (one count job to
    size the filter); `big` co-shuffles on pmod(hash, n_shards) and
    probes via cogrouped applyInPandas — the bitmap materializes once
    per task, NEVER copied onto rows (the 601s-vs-108s lesson,
    CLAUDE.md). At a billion-row `big` against a million-key dim this
    replaces a full-table shuffle with a row-local filter + a
    maybe-set join ~1% of the size."""
    if how not in ("left_semi", "left_anti"):
        raise ValueError(f"bloom_filter_join supports semi/anti, got {how!r}")
    from ..frontier.seen import bloom_params, build_bloom_shards, mark_maybe_seen

    kh = F.xxhash64(F.col(key_col).cast("string"))
    key_hashes = keys.select(kh.alias("url_hash")).distinct()
    n = key_hashes.count()
    m_total, k = bloom_params(n, fpp)
    m_shard = max(64, -(-m_total // n_shards))
    shards = build_bloom_shards(key_hashes, n_shards, m_shard, k)
    probed = mark_maybe_seen(
        big.withColumn("url_hash", kh), shards, n_shards, m_shard, k
    )
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen", "shard", "url_hash")
    definite_miss = probed.filter(~F.col("maybe_seen")).drop(
        "maybe_seen", "shard", "url_hash"
    )
    confirmed = maybe.join(keys.select(key_col).distinct(), key_col, how)
    if how == "left_semi":
        return confirmed  # definite misses can never match
    return definite_miss.unionByName(confirmed)


def grouped_trend(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Exact per-group OLS slope (micro-units): the "is this segment's
    metric trending up?" aggregate, computed so the value is
    bit-identical on any engine/partitioning:

      slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    * x is centered per group (x − min x) so products stay small;
    * every sum is cast to DECIMAL(38,0) BEFORE summing (ANSI mode
      throws on int64 overflow otherwise — CLAUDE.md invariant);
    * the ×10⁶ scaling and the division use the exact-division trick:
      subtract `((nm % den) + den) % den` (the canonical non-negative
      remainder) so the numerator divides EVENLY — dodging both
      Spark's floor-toward−∞ decimal floor and DuckDB's
      truncate-toward-zero `//`, which disagree on negative slopes.

    One broadcast of per-group minima + one groupBy — two shuffles on
    the group key, no Python, no floats anywhere."""
    dec = "decimal(38,0)"
    mins = df.groupBy(group_col).agg(F.min(x_col).alias("_x0"))
    d = df.join(F.broadcast(mins), group_col).select(
        group_col,
        (F.col(x_col) - F.col("_x0")).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    s = d.groupBy(group_col).agg(
        F.count("*").cast(dec).alias("_n"),
        F.sum(F.col("_x").cast(dec)).alias("_sx"),
        F.sum(F.col("_y").cast(dec)).alias("_sy"),
        F.sum((F.col("_x") * F.col("_y")).cast(dec)).alias("_sxy"),
        F.sum((F.col("_x") * F.col("_x")).cast(dec)).alias("_sxx"),
    )
    c = s.select(
        group_col,
        F.col("_n").cast("long").alias("n_rows"),
        (F.expr("_n * _sxy - _sx * _sy") * F.lit(1000000).cast(dec)).alias("_nm"),
        F.expr("_n * _sxx - _sx * _sx").alias("_den"),
    )
    exact_q = F.expr("(_nm - ((_nm % _den + _den) % _den)) / _den")
    return c.select(
        group_col,
        "n_rows",
        F.when(F.col("_den") == 0, F.lit(None))
        .otherwise(exact_q)
        .cast("long")
        .alias("slope_micro"),
    )


def pack_bins(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    size_col: str,
    budget: int,
) -> DataFrame:
    """Sequential quota packing (X78): assign ordered items to bins by
    exclusive-prefix-sum div budget — the deterministic streaming
    packer a training pipeline uses to fill fixed context windows
    (bin = which budget-quota an item's first unit lands in). An item
    straddling a boundary stays in the bin where it starts, so a bin
    may exceed the budget by less than one item — the next-fit
    streaming-pack property; exact first-fit needs per-item recursion
    no engine runs at 10^10 rows.

    The window is keyed by group (per-group streams), the division is
    integer `div` on a named column (never float /), and the whole
    assignment is one keyed window pass — mergeable per group, no
    driver loop."""
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    cum = F.sum(size_col).over(w.rowsBetween(Window.unboundedPreceding, 0))
    started = df.withColumn("_start", (cum - F.col(size_col)).cast("long"))
    return started.withColumn(
        "bin_id", F.expr(f"_start div {int(budget)}")
    ).drop("_start")


# --- X87: grouped MAD robust outliers ----------------------------------------


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k_milli: int = 3000,
) -> DataFrame:
    """Per-group robust outlier census via the median absolute deviation
    — the breakdown-resistant twin of the z-score filter (X30): one
    extreme value drags a mean/stddev fence toward itself (masking), a
    median/MAD fence moves only when >50% of the group moves.

    Built by composing `exact_percentiles` twice (value-domain histogram
    + nearest-rank, all-integer): median per group, then the median of
    |v − med|. The per-group stats frames are group-count-sized scalars
    (ints, not blobs — the cogroup rule is for per-group payloads that
    would be copied per row), so they broadcast-join back onto the
    stream; total cost is two histogram shuffles + two broadcast joins
    at ANY input size. The fence is pure integers: outlier ⇔
    1000·|v − med| > k_milli·MAD (strict, so a zero-MAD group — >50%
    identical values — flags exactly the rows that differ at all).
    Output: per-group n, med, mad, n_outliers.
    """
    med = exact_percentiles(df, key_col, value_col, permilles=(500,)).select(
        key_col, F.col("p500").alias("_med")
    )
    dev = df.join(F.broadcast(med), key_col).withColumn(
        "_dev", F.abs(F.col(value_col) - F.col("_med"))
    )
    mad = exact_percentiles(dev, key_col, "_dev", permilles=(500,)).select(
        key_col, F.col("p500").alias("_mad")
    )
    flagged = dev.join(F.broadcast(mad), key_col)
    is_out = (F.lit(1000) * F.col("_dev")) > (F.lit(k_milli) * F.col("_mad"))
    return flagged.groupBy(key_col).agg(
        F.count("*").cast("long").alias("n"),
        F.max("_med").cast("long").alias("med"),
        F.max("_mad").cast("long").alias("mad"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
    )


def temperature_targets(
    df: DataFrame,
    group_col: str = "lang",
    total: int = 20000,
    scale: int = 1_000_000,
) -> DataFrame:
    """X89: temperature-balanced corpus allocation — the multilingual
    resampling step of mT5/XLM-R-style pipelines (sample language l
    with p_l ∝ n_l^alpha, alpha = 1/2), computed so every value is
    bit-identical on any engine/partitioning:

    * weight_l = isqrt(n_l · scale) — EXACT integer sqrt: a float
      seed `floor(sqrt(double))` followed by a ±1 integer fix-up, so
      the float path only has to land within one of the true root
      (double sqrt is; the fix-up makes the result exact on both
      engines regardless of their libm).
    * target_l = floor(total · w_l / W) plus largest-remainder
      rounding: the leftover `total − Σ floor` seats go to the groups
      with the largest remainders (ties by group key), so
      Σ target_l == total EXACTLY — the property naive per-group
      rounding loses and schedulers need.

    Cost model: one groupBy(group) count on the corpus (the only
    data-sized shuffle), then everything runs on the group-level frame
    (#languages rows — metadata-sized; its partition-less windows are
    the documented ≤-#groups exception, same as X50's offset frame).
    Low-resource languages may receive target > n_docs — that is the
    semantics (upsampling with repetition, as in mT5); downstream
    selection composes with grouped_sample_exact_k.
    """
    counts = df.groupBy(group_col).agg(F.count("*").cast("long").alias("n_docs"))
    m = counts.withColumn("_m", F.expr(f"n_docs * {scale}"))
    s = m.withColumn(
        "_s0", F.expr("CAST(FLOOR(SQRT(CAST(_m AS DOUBLE))) AS BIGINT)")
    ).withColumn(
        "weight",
        F.expr(
            "_s0 + (CASE WHEN (_s0 + 1) * (_s0 + 1) <= _m THEN 1 ELSE 0 END)"
            " - (CASE WHEN _s0 * _s0 > _m THEN 1 ELSE 0 END)"
        ),
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    t = s.withColumn("_w_tot", F.sum("weight").over(wall)).withColumn(
        "_num", F.expr(f"CAST({total} AS BIGINT) * weight")
    )
    b = t.withColumn("_base", F.expr("(_num - (_num % _w_tot)) div _w_tot")).withColumn(
        "_rem", F.expr("_num % _w_tot")
    )
    d = b.withColumn(
        "_deficit", F.lit(total) - F.sum("_base").over(wall)
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy().orderBy(F.col("_rem").desc(), F.col(group_col))
        ),
    )
    return d.select(
        group_col,
        "n_docs",
        "weight",
        F.expr("_base + (CASE WHEN _rk <= _deficit THEN 1 ELSE 0 END)")
        .cast("long")
        .alias("target_docs"),
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-seen week
    (the cohort), each later week's activity expressed as
    retention_milli = 1000 · active div cohort_size at age = weeks
    since cohort. The engagement readout every crawl/user log gets
    asked for; age 0 is 1000 by construction (a useful self-check).

    Scale shape: first-seen week is one user-keyed groupBy; the
    (cohort, age) activity needs DISTINCT users per cell, done as a
    groupBy on (cohort, age, user) then a count — two keyed shuffles
    with map-side combine, no count_distinct over a window. Cohort
    sizes are a cohort-keyed dimension (≤ weeks-of-history rows),
    broadcast back onto the matrix."""
    wk = F.date_trunc("week", F.col(ts_col))
    u = F.col(user_col)
    first = (
        events.select(u.alias("_u"), wk.alias("_w"))
        .groupBy("_u")
        .agg(F.min("_w").alias("cohort_week"))
    )
    act = (
        events.select(u.alias("_u"), wk.alias("_w"))
        .join(first, "_u")
        .withColumn(
            "age_weeks",
            F.expr("datediff(_w, cohort_week) div 7").cast("long"),
        )
        .groupBy("cohort_week", "age_weeks", "_u")
        .agg(F.lit(1).alias("_one"))
        .groupBy("cohort_week", "age_weeks")
        .agg(F.count("*").alias("n_active"))
    )
    sizes = first.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (
        act.join(F.broadcast(sizes), "cohort_week")
        .withColumn(
            "retention_milli", F.expr("1000 * n_active div cohort_size")
        )
        .select(
            "cohort_week", "age_weeks", "n_active", "cohort_size",
            "retention_milli",
        )
    )


def annotator_agreement(
    labels: DataFrame,
    rater_a: str = "a",
    rater_b: str = "b",
    item_col: str = "item_id",
    rater_col: str = "rater",
    label_col: str = "label",
) -> DataFrame:
    """Cohen's kappa between two raters over the co-rated items, in
    EXACT integers — the labeling-QA gate a supervised-data pipeline
    runs before trusting a batch of annotations. The float formula
    (po−pe)/(1−pe) becomes, after clearing denominators,

        kappa_milli = 1000·(agree·n − S) div (n² − S),
        S = Σ_c n_a(c)·n_b(c)

    so no per-class fraction is ever rounded before the sum. Degenerate
    marginals (n² = S, chance agreement 1) report 1000 iff agreement is
    perfect, else 0, flagged via `degenerate`.

    Scale shape: one equi-join on item (both sides pre-filtered to one
    rater each), class marginals are two class-sized aggregates joined
    on label — never a pivot over raters or a window."""
    a = labels.filter(F.col(rater_col) == rater_a).select(
        F.col(item_col).alias("_i"), F.col(label_col).alias("_la")
    )
    b = labels.filter(F.col(rater_col) == rater_b).select(
        F.col(item_col).alias("_i"), F.col(label_col).alias("_lb")
    )
    j = a.join(b, "_i")
    counts = j.agg(
        F.count("*").alias("n"),
        F.sum((F.col("_la") == F.col("_lb")).cast("long")).alias("agree"),
    )
    na = j.groupBy(F.col("_la").alias("_c")).agg(F.count("*").alias("_na"))
    nb = j.groupBy(F.col("_lb").alias("_c")).agg(F.count("*").alias("_nb"))
    s = (
        na.join(nb, "_c")
        .agg(F.coalesce(F.sum(F.col("_na") * F.col("_nb")), F.lit(0)).alias("s"))
    )
    out = counts.crossJoin(F.broadcast(s))
    return out.select(
        "n",
        "agree",
        F.expr("1000 * agree div n").alias("po_milli"),
        F.expr("1000 * s div (n * n)").alias("pe_milli"),
        (F.col("n") * F.col("n") == F.col("s")).alias("degenerate"),
        F.expr(
            "CASE WHEN n * n = s THEN CASE WHEN agree = n THEN 1000 ELSE 0 END "
            "ELSE 1000 * (agree * n - s) div (n * n - s) END"
        ).alias("kappa_milli"),
    )


def dense_vocab_ids(
    counts: DataFrame,
    existing: DataFrame | None = None,
    term_col: str = "term",
    df_col: str = "df",
    prefix_len: int = 2,
) -> DataFrame:
    """Stable dense vocabulary numbering — the embedding-table id
    assignment a training pipeline needs: ids are 0..V-1 in
    (document-frequency DESC, term ASC) order (frequent terms get small
    ids, the layout embedding kernels want), and once assigned they
    NEVER move: with `existing` (term, vid) given, old terms keep their
    ids and only unseen terms append after max(vid), ranked among
    themselves — growing the corpus can only extend the table.

    Scale shape: the global rank is a `cell_rank`. Cell: (exact
    negated df, term PREFIX) — a prefix split under one df value, so the
    df=1 long tail spreads across prefix cells instead of one giant
    window task. The append base rides a broadcast one-row max, never a
    driver collect."""

    def _ranked(df0: DataFrame, base_col) -> DataFrame:
        extra = [F.col("_mx")] if "_mx" in df0.columns else []
        keyed = df0.select(
            F.col(term_col).alias("term"),
            F.col(df_col).cast("long").alias("df"),
            desc_cell(df_col).alias("_d"),
            F.substring(F.col(term_col), 1, prefix_len).alias("_pre"),
            *extra,
        )
        order = [F.col("df").desc(), F.col("term").asc()]
        return (
            cell_rank(keyed, ["_d", "_pre"], order)
            .withColumn("vid", base_col + F.col("_rank") - 1)
            .select("term", "df", "vid")
        )

    if existing is None:
        return _ranked(counts, F.lit(0).cast("long")).withColumn(
            "is_new", F.lit(True)
        )
    ex = existing.select(F.col(term_col).alias("term"), F.col("vid"))
    mx = ex.agg(
        F.coalesce(F.max("vid"), F.lit(-1).cast("long")).alias("_mx")
    )
    new = (
        counts.join(ex, counts[term_col] == ex["term"], "left_anti")
        .crossJoin(F.broadcast(mx))
    )
    ranked_new = _ranked(new, F.col("_mx") + 1).withColumn(
        "is_new", F.lit(True)
    )
    kept = (
        counts.select(F.col(term_col).alias("term"), F.col(df_col).cast("long").alias("df"))
        .join(ex, "term")
        .select("term", "df", "vid")
        .withColumn("is_new", F.lit(False))
    )
    return kept.unionByName(ranked_new)


def embedding_drift(
    docs: DataFrame,
    emb_old: DataFrame,
    emb_new: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    threshold_micro: int = 50_000,
) -> DataFrame:
    """Per-language embedding-centroid drift between two snapshots —
    the monitor that catches an encoder change, a scraper regression,
    or a poisoned source shifting a language's representation before
    anything retrains on it. Both centroids ride
    lang_centroid_quantized (quantize-then-sum: exact under any
    partitioning), so the drift — L1 over dims of |mean_old − mean_new|
    plus the worst single dimension, in micro-units — is deterministic
    and value-oracle-able end-to-end. One (lang, dim) equi-join of two
    centroid tables (languages × dims rows — metadata-sized), one
    lang-keyed aggregate."""
    a = lang_centroid_quantized(docs, emb_old, vec_col, scale).select(
        "lang", "dim", F.col("mean_q").alias("_a")
    )
    b = lang_centroid_quantized(docs, emb_new, vec_col, scale).select(
        "lang", "dim", F.col("mean_q").alias("_b")
    )
    d = F.abs(F.col("_a") - F.col("_b"))
    return (
        a.join(b, ["lang", "dim"])
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_dims"),
            F.sum(d).alias("l1_micro"),
            F.max(d).alias("max_dim_micro"),
        )
        .withColumn("drifted", F.col("l1_micro") > threshold_micro)
    )


def join_preflight(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Pre-flight cardinality check for a planned equi-join: the EXACT
    output size Sum_k n_L(k)*n_R(k) and the worst single key, computed
    from two key-histogram aggregates JOINED ON KEY - cost O(distinct
    keys), never the join itself. This is the guard that predicts the
    quadratic blowup `_cap_groups` exists to stop (a 200-row hot key on
    both sides reads as 40,000 output rows HERE, before anyone shuffles
    a payload), and the number that decides broadcast vs shuffle vs
    salt. Products ride DECIMAL(38,0) (ANSI discipline); amplification
    is milli output-per-input-row.

    Output: one row (n_left, n_right, n_keys_both, est_out_rows,
    max_key_out, top_key, amp_milli)."""
    k = [F.col(c).cast("string") for c in key_cols]
    key = F.concat_ws("", *k).alias("_k")
    la = left.select(key).groupBy("_k").agg(F.count("*").alias("_nl"))
    ra = right.select(key).groupBy("_k").agg(F.count("*").alias("_nr"))
    j = la.join(ra, "_k").select(
        "_k", (F.col("_nl") * F.col("_nr")).cast("decimal(38,0)").alias("_p")
    )
    tot = j.agg(
        F.count("*").alias("n_keys_both"),
        F.coalesce(F.sum("_p"), F.lit(0).cast("decimal(38,0)")).alias("_est"),
        F.coalesce(F.max("_p"), F.lit(0).cast("decimal(38,0)")).alias("_mx"),
    )
    top = (
        j.orderBy(F.col("_p").desc(), F.col("_k").asc())
        .limit(1)
        .select(F.col("_k").alias("top_key"))
    )
    nl = left.agg(F.count("*").alias("n_left"))
    nr = right.agg(F.count("*").alias("n_right"))
    out = nl.crossJoin(nr).crossJoin(tot).crossJoin(F.broadcast(top))
    return out.select(
        "n_left",
        "n_right",
        "n_keys_both",
        F.expr("cast(_est as long)").alias("est_out_rows"),
        F.expr("cast(_mx as long)").alias("max_key_out"),
        "top_key",
        F.expr(
            "CASE WHEN n_left + n_right = 0 THEN 0 "
            "ELSE cast(1000 * _est div (n_left + n_right) as long) END"
        ).alias("amp_milli"),
    )


def session_attribution(
    events: DataFrame,
    gap_s: int = 3600,
    conversion: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """First-touch / last-touch attribution per conversion event: within
    the converting user's gap-based session (same session derivation as
    `sessionize` — integer microseconds, (ts, event_id) total order),
    the session's FIRST event type is the first-touch channel and the
    nearest strictly-prior event the last-touch ('direct' when the
    conversion opens its own session). The funnel/attribution readout
    every event log gets asked for, with deterministic tie-breaks.

    Scale shape: two window families, both partitioned by user (then
    (user, session)) — bounded per-user streams, billions of users
    spread across tasks; no joins at all."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(us, "event_id")
    new_sess = (
        F.when(F.lag(us).over(w).isNull(), 1)
        .when(us - F.lag(us).over(w) > gap_s * 1_000_000, 1)
        .otherwise(0)
    )
    seq = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = events.select(
        F.col(user_col).alias("user_id"),
        "event_id",
        F.col(type_col).alias("_ty"),
        us.alias("_us"),
        seq.alias("session_seq"),
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy("_us", "event_id")
    first_touch = F.first("_ty").over(
        ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_prior = F.lag("_ty").over(ws)
    return (
        tagged.withColumn("first_touch", first_touch)
        .withColumn("_lp", last_prior)
        .filter(F.col("_ty") == conversion)
        .select(
            "user_id",
            F.col("event_id").alias("conversion_id"),
            F.col("session_seq").cast("long").alias("session_seq"),
            "first_touch",
            F.coalesce(F.col("_lp"), F.lit("direct")).alias("last_touch"),
        )
    )


def fairness_index(
    alloc: DataFrame,
    group_cols: list[str] | None = None,
    value_col: str = "n",
) -> DataFrame:
    """Jain's fairness index over an allocation, in exact milli:
    1000·(Σx)² div (n·Σx²) — 1000 when every member got the same,
    1000/n when one member got everything. The one-number answer to
    "is the politeness scheduler starving anyone?" per round, or any
    other allocation audit. Sums and squares ride DECIMAL(38,0) (ANSI
    overflow discipline: x up to ~10⁹ over 10⁹ members stays inside
    38 digits), one map-side-combined aggregate per group."""
    g = list(group_cols or [])
    x = F.col(value_col).cast("decimal(38,0)")
    aggs = [
        F.count("*").alias("n_members"),
        F.sum(x).alias("_s"),
        F.sum(x * x).alias("_ss"),
    ]
    agged = alloc.groupBy(*g).agg(*aggs) if g else alloc.agg(*aggs)
    return agged.select(
        *g,
        "n_members",
        F.expr("cast(_s as long)").alias("total"),
        F.expr(
            "CASE WHEN _ss = 0 THEN 0 "
            "ELSE cast(1000 * _s * _s div (n_members * _ss) as long) END"
        ).alias("fairness_milli"),
    )


def entity_disjoint_split(
    df: DataFrame,
    entity_col: str = "host",
    fingerprint_col: str = "fp",
    bounds: tuple = (80, 90),
    names: tuple = ("train", "val", "test"),
    salt: str = "esplit",
    portable: bool = False,
) -> DataFrame:
    """Entity-disjoint train/val/test split + leakage audit — the
    eval-hygiene contract hash_split (X56) cannot give. Splitting by
    doc hash puts two near-identical pages from the SAME site on both
    sides of the train/eval fence (template boilerplate, mirrored
    articles), silently inflating eval scores. Production pipelines
    therefore split by the LEAKAGE UNIT — host, domain, or user — so
    every document of an entity lands in one split; this operator
    assigns split = bucket(hash(salt:entity)) and then AUDITS the
    residual cross-entity leakage: content fingerprints that still
    appear in more than one split (the duplicates living on unrelated
    hosts, exactly what the fence cannot stop and dedup must).

    Output: one row per split — n_entities, n_docs, n_fingerprints
    (distinct), leaked_fps (fingerprints of this split also present in
    ≥1 other split). Plan: one row-local hash for assignment (zero
    shuffle, stable under corpus growth like X56), then the big table
    is touched by exactly TWO map-side-combined aggregates — to
    (split, fingerprint) pairs and to (split, entity) pairs — and
    everything else (the cross-split span count, the rollup, the
    final join) runs on those fingerprint-/entity-cardinality pair
    tables, never on documents again. Fingerprints are near-unique so
    neither aggregate has a hot key; no window anywhere.

    portable=True swaps xxhash64 for md5h60 so the DuckDB oracle
    reproduces every assignment bit-exactly."""
    from .dedup import md5h60

    hf = md5h60 if portable else F.xxhash64
    b = F.pmod(
        hf(F.concat(F.lit(f"{salt}:"), F.col(entity_col).cast("string"))),
        F.lit(100),
    )
    split = (
        F.when(b < bounds[0], names[0])
        .when(b < bounds[1], names[1])
        .otherwise(names[2])
    )
    assigned = df.withColumn("split", split)
    # big table -> (split, fingerprint) pairs: one map-side-combined agg
    fp_pairs = assigned.groupBy("split", fingerprint_col).agg(
        F.count("*").alias("_n_docs")
    )
    # span per fingerprint, computed on the pair table (fp-cardinality)
    fp_span = fp_pairs.groupBy(fingerprint_col).agg(
        F.count("*").alias("_n_splits")
    )
    # big table -> (split, entity) pairs: the only other full-table agg
    ent = (
        assigned.groupBy("split", entity_col)
        .agg(F.count("*").alias("_ne"))
        .groupBy("split")
        .agg(F.count("*").alias("n_entities"))
    )
    per_split = (
        fp_pairs.join(fp_span, fingerprint_col)
        .groupBy("split")
        .agg(
            F.sum("_n_docs").alias("n_docs"),
            F.count("*").alias("n_fingerprints"),
            F.sum(F.when(F.col("_n_splits") > 1, 1).otherwise(0)).alias(
                "leaked_fps"
            ),
        )
    )
    return per_split.join(ent, "split").select(
        "split", "n_entities", "n_docs", "n_fingerprints", "leaked_fps"
    )


def k_anonymize(
    df: DataFrame,
    quasi_cols: list,
    k: int = 5,
    other: str = "*",
) -> DataFrame:
    """k-anonymity suppression for publishable aggregates: any
    quasi-identifier combination backed by fewer than k rows is
    collapsed into one `other` bucket before release — the privacy
    floor for sharing per-host/per-cohort crawl statistics (a count of
    3 for (host, country, day) identifies real users; the rolled-up
    bucket identifies no one). Standard generalization-by-suppression,
    exact: published counts sum to the input count.

    Plan: one combo-keyed map-side-combined aggregate (combos are
    metadata-scale next to rows), then a row-local CASE rewrite of the
    sub-k combos and one re-aggregate of the (tiny) suppressed set —
    the big table is touched once.

    Output: quasi_cols + (n, suppressed) — suppressed marks the rolled
    bucket; row order-free."""
    combos = df.groupBy(*quasi_cols).agg(F.count("*").alias("n"))
    small = F.col("n") < k
    rewritten = combos.select(
        *[
            F.when(small, F.lit(other)).otherwise(
                F.col(c).cast("string")
            ).alias(c)
            for c in quasi_cols
        ],
        "n",
        small.alias("suppressed"),
    )
    return (
        rewritten.groupBy(*quasi_cols, "suppressed")
        .agg(F.sum("n").cast("long").alias("n"))
        .select(*quasi_cols, "n", "suppressed")
    )


def release_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Training-set release audit: what changed between two corpus
    releases, per language — added / removed / changed / unchanged doc
    counts and the net whitespace-token delta. The datasheet (X162)
    describes ONE release; reviewers of a data update need the DIFF
    (a silently shrinking low-resource language or a +40% token jump
    in one source is exactly what this table surfaces before a
    training run bakes it in).

    One full-outer join on the doc id (both sides carry id + group +
    an md5 content fingerprint + a token count — never the text
    itself through the shuffle), then one group rollup. Changed =
    present in both with differing fingerprints. group_col is taken
    from the NEW side for changed/added docs and the old side for
    removed (a doc that migrated language counts as changed under its
    new language).

    Output: (group, n_added, n_removed, n_changed, n_unchanged,
    tokens_old, tokens_new, token_delta)."""
    def side(df, tag):
        return df.select(
            F.col(id_col).alias("_id"),
            F.col(group_col).alias(f"_g_{tag}"),
            F.md5(F.col(text_col)).alias(f"_fp_{tag}"),
            F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
            .cast("long")
            .alias(f"_tok_{tag}"),
        )

    j = side(old, "o").join(side(new, "n"), "_id", "full_outer")
    status = (
        F.when(F.col("_fp_o").isNull(), "added")
        .when(F.col("_fp_n").isNull(), "removed")
        .when(F.col("_fp_o") != F.col("_fp_n"), "changed")
        .otherwise("unchanged")
    )
    rows = j.select(
        F.coalesce("_g_n", "_g_o").alias(group_col),
        status.alias("_st"),
        F.coalesce("_tok_o", F.lit(0)).alias("_to"),
        F.coalesce("_tok_n", F.lit(0)).alias("_tn"),
    )
    return (
        rows.groupBy(group_col)
        .agg(
            F.sum((F.col("_st") == "added").cast("long")).alias("n_added"),
            F.sum((F.col("_st") == "removed").cast("long")).alias("n_removed"),
            F.sum((F.col("_st") == "changed").cast("long")).alias("n_changed"),
            F.sum((F.col("_st") == "unchanged").cast("long")).alias(
                "n_unchanged"
            ),
            F.sum("_to").cast("long").alias("tokens_old"),
            F.sum("_tn").cast("long").alias("tokens_new"),
        )
        .withColumn("token_delta", F.expr("tokens_new - tokens_old"))
    )


def grouped_topk(
    df: DataFrame,
    group_cols: list,
    score_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Generic scale-safe grouped top-k BY SCORE — the primitive behind
    "best k pages per host", "top k images per phash cluster", "highest
    k scores per language" when group sizes are wildly skewed and a
    bare per-group window would hand one task a whole hot group
    (X59's grouped_sample solves this for HASH rank, where uniformity
    gives a cutoff for free; arbitrary scores don't have one, so this
    extracts the frontier's two-level decomposition into the general
    form).

    Fully relational, zero driver collects: a `cell_rank` within each
    group. Cell: the score `quantize`d between per-GROUP bounds (one
    aggregate, joined back — not collected). The `_off < k` filter is
    pushed to the cell frame, so cells whose offset already reaches k
    are DISCARDED BEFORE the join and the window — the below-cutoff
    mass of a hot group is never sorted. Degenerate case: a group whose
    scores are all equal collapses to one cell and that cell's
    tie-break sort is one task of the group's size — inherent to exact
    ties, the same bound the knn/extract_tables windows document.

    Output: group_cols + (id_col, score_col, rank), rank 1..k per
    group by (score DESC, id ASC)."""
    g = list(group_cols)
    bounds = df.groupBy(*g).agg(
        F.min(score_col).alias("_lo"), F.max(score_col).alias("_hi")
    )
    j = df.join(bounds, g)
    # a NULL score sorts last under DESC: it joins the last cell
    keyed = j.withColumn(
        "_s", -quantize(f"coalesce({score_col}, _lo)", "_lo", "_hi")
    )
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    return (
        cell_rank(keyed, ["_s"], order, part=g)
        .filter((F.col("_off") < k) & (F.col("_rank") <= k))
        .select(*g, id_col, score_col, F.col("_rank").cast("long").alias("rank"))
    )
