"""Deduplication family over a `documents(doc_id, text, ...)` table.

Four tiers, all shuffle-conscious:

* exact          — md5 content hash groupBy (one shuffle, map-side combine)
* minhash_lsh    — shingle → minhash signature → band buckets → candidate
                   pairs only within buckets (the 100-TB-safe near-dup:
                   no O(n²) compare; shuffle volume = Σ bucket sizes)
* simhash        — 64-bit fingerprint; near-dups = small hamming distance
                   within block buckets (4×16-bit block index, standard
                   "at most k different blocks" pigeonhole trick)
* ngram_jaccard  — exact Jaccard on character n-gram sets for candidate
                   pairs (the verifier stage after LSH blocking)

Hashes are computed JVM-side (md5/xxhash64/conv) — no Python in the hot
path; only set-arithmetic on exploded rows, which Catalyst pipelines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cellrank import cell_rank


def md5h60(col):
    """Portable 60-bit hash: first 15 hex chars of md5, as a non-negative
    long. Bit-identical in DuckDB via ('0x' || substr(md5(x),1,15))::BIGINT
    — the trick that lets hash-dependent operators (minhash, simhash,
    fingerprint) carry full value-level oracles. xxhash64 stays the scale
    default (one JVM op vs md5's digest + string slice + base conversion)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per distinct content hash; keeper = min doc_id (stable)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


def shingles(
    docs: DataFrame, text_col: str = "text", k: int = 5, portable: bool = False
) -> DataFrame:
    """Character k-shingles as 64-bit hashes: (doc_id, shingle_hash).
    Distinct per doc. JVM-side: sequence + substring + xxhash64
    (portable=True switches to md5h60 for DuckDB-oracle parity)."""
    n = F.length(F.col(text_col))
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    hf = md5h60 if portable else F.xxhash64
    sh = F.transform(idx, lambda i: hf(F.col(text_col).substr(i, F.lit(k))))
    return (
        docs.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle_hash"))
    )


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 32, seed: int = 42, portable: bool = False
) -> DataFrame:
    """(doc_id, sig array<long>) — n_hashes min-hash values. Each hash i
    is a remix of the shingle hash, min-aggregated per doc: one shuffle.
    Default remix is xxhash64(shingle XOR splitmix-constant); portable
    mode remixes via md5h60(shingle || ':' || seed || ':' || i) so DuckDB
    reproduces the exact signature values (and distinct seeds give
    independent signature families in BOTH modes)."""
    def _signed(x: int) -> int:
        x &= 0xFFFFFFFFFFFFFFFF
        return x - (1 << 64) if x >= (1 << 63) else x

    if portable:
        aggs = [
            F.min(
                md5h60(F.concat(F.col("shingle_hash").cast("string"), F.lit(f":{seed}:{i}")))
            ).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    else:
        mixers = [
            _signed(seed * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9)
            for i in range(n_hashes)
        ]
        aggs = [
            F.min(F.xxhash64(F.col("shingle_hash").bitwiseXOR(F.lit(m)))).alias(f"h{i}")
            for i, m in enumerate(mixers)
        ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))


def hamming_blocks(hash_col: str, radius: int):
    """Pigeonhole blocking for Hamming radius k over a 64-bit hash: k+1
    DISJOINT blocks whose widths split 64 as evenly as possible — any
    pair at distance ≤ k has more blocks than differing bits, so it
    agrees EXACTLY on ≥ 1 block and the per-block equi-join candidate
    set is complete for the requested radius. (The previous fixed 4×16
    split was sound only for k ≤ 3; a pair with 1+ differing bit in each
    of the 4 blocks was silently missed — VERDICT r02 item 3.)

    Returns the list of (blk, val) structs to explode. Radius is capped
    at 31 (32×2-bit blocks): past that each block carries < 2 bits and
    candidate generation approaches the cross join it exists to avoid —
    large radii additionally want the `_cap_groups` hot-block guard.
    """
    if not 0 <= radius <= 31:
        raise ValueError(f"hamming radius must be in [0, 31], got {radius}")
    nb = radius + 1
    base, rem = divmod(64, nb)
    structs, off = [], 0
    for i in range(nb):
        width = base + (1 if i < rem else 0)
        structs.append(
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(hash_col, off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
        )
        off += width
    return structs


def _cap_groups(df: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Drop rows whose blocking-key group exceeds `cap` members — the
    shared hot-bucket guard for every candidate-generation self-join
    (k members ⇒ k² pairs in ONE task otherwise). None disables.

    A count-over-window on the keys, NOT a groupBy+semi-join: the join
    form evaluates the (expensive, uncached) upstream pipeline twice more
    — once for the aggregate, once for the probe — on top of the two
    evaluations the candidate self-join already pays. The window adds one
    keys-shuffle and zero extra upstream passes; its partitions are the
    blocking groups themselves (high-cardinality, and linear in the hot
    group's size — the k² it exists to prevent is the join's, not its own)."""
    if cap is None:
        return df
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_gsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_gsz") <= cap)
        .drop("_gsz")
    )


def band_keys(
    sig: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, bucket) LSH band keys from signature arrays — the
    shared banding of lsh_candidate_pairs (self-join dedup) and
    incremental_near_dups (new-batch-vs-corpus probe). The bucket is
    xxhash64 of the comma-joined signature slice, so equal buckets ⇔
    equal slices (collisions aside) — this is also what the DuckDB
    oracles join on (the raw slice string)."""
    assert bands * rows_per_band <= 64
    return sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.concat_ws(",", *[
                        F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ])).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    sig: DataFrame, bands: int = 8, rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate (doc_a, doc_b) pairs that
    collide in ≥1 band. Join happens per-bucket — a self-equi-join on
    (band, bucket_hash), never a cross join.

    `max_bucket` guards the one quadratic hazard at 100-TB scale: a
    degenerate bucket (boilerplate/empty docs collapsing to one
    signature slice) of k members emits k² pairs inside a single join
    task. Capped mode drops buckets larger than `max_bucket` before the
    self-join (one extra count-aggregate on the banded keys — no data
    shuffle beyond the join's own): near-dups that lost one band this
    way still collide in another, and a doc group big enough to blow
    every band is boilerplate an exact-dedup pass catches first. None
    (default) keeps exhaustive candidates — the oracled small-scale
    semantics."""
    banded = _cap_groups(
        band_keys(sig, bands, rows_per_band), ["band", "bucket"], max_bucket
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    pairs: DataFrame, sh: DataFrame, threshold: float = 0.0
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| via shingle
    equi-join, |A∪B| = |A|+|B|−|A∩B|. Output (doc_a, doc_b, jaccard)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        pairs
        .join(sh.select(F.col("doc_id").alias("doc_a"), "shingle_hash"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle_hash"), ["doc_b", "shingle_hash"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    portable: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH blocking → exact
    Jaccard verify → connected pairs above threshold. Returns
    (doc_a, doc_b, jaccard) survivors. portable=True makes every hash
    md5-derived so the whole pipeline (candidates included) has a DuckDB
    value oracle; default xxhash64 is the scale path. `max_bucket` caps
    degenerate LSH buckets (see lsh_candidate_pairs) — leave None for
    the exhaustive oracled semantics."""
    sh = shingles(docs, text_col, k, portable=portable)
    sig = minhash_signatures(sh, n_hashes, portable=portable)
    pairs = lsh_candidate_pairs(sig, bands, n_hashes // bands, max_bucket=max_bucket)
    return jaccard_pairs(pairs, sh, threshold)


def build_corpus_index(
    corpus_docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """One-time (per corpus version) index for `incremental_near_dups`:
    returns (corpus_bands, corpus_shingles). Persist BOTH as tables
    (ideally bucketed on their join keys — (band, bucket) and doc_id) and
    pass them to every batch call; maintain them incrementally by
    appending each accepted batch's own band keys / shingles. Parameters
    must match the batch-side call exactly — band keys from different
    (k, n_hashes, bands, portable) settings never collide correctly."""
    sh_corpus = shingles(corpus_docs, text_col, k, portable=portable)
    b_corpus = band_keys(
        minhash_signatures(sh_corpus, n_hashes, portable=portable),
        bands,
        n_hashes // bands,
    )
    return b_corpus, sh_corpus


def incremental_near_dups(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    portable: bool = False,
    max_bucket: int | None = None,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Daily-increment dedup: dispose every NEW-batch doc against the
    EXISTING corpus without ever self-joining the corpus.

    This is the shape a continuously-crawled 100-TB corpus actually
    needs: pass `corpus_index` (the `build_corpus_index` output, persisted
    once per corpus version and reused by every batch) and each batch's
    cost is `O(batch)` banding + one equi-join probe into the index —
    never the corpus×corpus pair generation of `minhash_dedup`, and never
    a re-shingle of the corpus per batch. The Jaccard verify touches only
    candidate pairs (batch-sized), pulling corpus shingles for just the
    docs that collided. When `corpus_index` is omitted, the index is
    derived inline from `corpus_docs` (convenient for one-shot runs and
    the SQL oracle; the corpus IS re-shingled per call in that mode).

    Returns ONE row per new doc: (doc_id, dup_of, jaccard) where dup_of
    is the best corpus match above `threshold` (max Jaccard, tie → min
    corpus doc_id) or NULL if the doc is novel. doc_id sets of the two
    inputs must be disjoint.
    """
    rpb = n_hashes // bands
    sh_new = shingles(new_docs, text_col, k, portable=portable)
    if corpus_index is not None:
        b_corpus_raw, sh_corpus = corpus_index
    elif corpus_docs is not None:
        b_corpus_raw, sh_corpus = build_corpus_index(
            corpus_docs, text_col, k, n_hashes, bands, portable=portable
        )
    else:
        raise ValueError("pass corpus_docs or corpus_index")
    b_new = band_keys(minhash_signatures(sh_new, n_hashes, portable=portable), bands, rpb)
    b_corpus = _cap_groups(b_corpus_raw, ["band", "bucket"], max_bucket)
    cand = (
        b_new.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .join(
            b_corpus.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = jaccard_pairs(cand, sh_new.unionByName(sh_corpus), threshold)
    w = Window.partitionBy("doc_a").orderBy(
        F.col("jaccard").desc(), F.col("doc_b").asc()
    )
    best = (
        verified.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("dup_of"),
            "jaccard",
        )
    )
    return new_docs.select("doc_id").join(best, "doc_id", "left")


def simhash64(docs: DataFrame, text_col: str = "text", portable: bool = False) -> DataFrame:
    """64-bit SimHash over word tokens (JVM-only: explode + bit math).
    Output (doc_id, simhash long). portable=True uses the 60-bit md5
    token hash (top 4 bits zero) so DuckDB reproduces the fingerprint."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    h = md5h60(F.col("token")) if portable else F.xxhash64("token")
    n_bits = 60 if portable else 64
    bits = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{b}")
            for b in range(n_bits)
        ]
    )
    fp = None
    for b in range(n_bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long") * F.lit(2 ** b if b < 63 else -(2 ** 63))).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return bits.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame, max_hamming: int = 3, max_block: int | None = None
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ k over 64-bit simhash.
    Blocking: k+1 disjoint blocks (see `hamming_blocks`) — sound for the
    REQUESTED radius, not just the default 3 (at k=3 this is the same
    4×16 split as before, so oracled results are unchanged).
    `max_block` is the hot-block guard (see _cap_groups) for the scale
    path — a block value shared by k docs is k² candidates in one task;
    None keeps the exhaustive oracled semantics."""
    blocks = sim.select(
        "doc_id", "simhash",
        F.explode(F.array(*hamming_blocks("simhash", max_hamming))).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.val")
    blocks = _cap_groups(blocks, ["blk", "val"], max_block)
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, ["blk", "val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    work_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs: the step that turns
    pairwise LSH candidates into dedup clusters (keeper = component min).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — converges in O(log² n)
    rounds regardless of component diameter, each round a constant
    number of key-partitioned shuffles on node id. Never materializes
    a component in one task and never iterates to graph diameter, so a
    10^10-node pair graph with a few billion edges is ~30 rounds of
    hash-aggregate + equi-join.

    Per-round lineage is truncated by staging each round's edge set to
    parquet under `work_dir` and reading it back — the classic MapReduce
    formulation the algorithm was designed for. This deliberately avoids
    `localCheckpoint`: a localCheckpoint RDD cannot be released from
    PySpark through any public API (`DataFrame.unpersist()` is a
    cacheManager call that verifiably does NOT drop it — pinned by
    tests/test_operators.py::test_df_unpersist_does_not_release_local_checkpoint),
    so ~30 rounds pin O(rounds) edge-set copies in executor storage until
    driver GC. Files give eager, public, deterministic release: round k-1's
    directory is deleted as soon as round k is materialized, and the
    convergence checksum rides the staging write as an `Observation`
    (one job per round, no second scan).

    `work_dir` defaults to a fresh tmpdir under $SPARK_GRAFT_STAGE_DIR
    (tmpfs in benchmarks). Only the final labels directory outlives the
    call (the returned DataFrame scans it; removed at process exit). On a
    real cluster, point `work_dir` at shared storage and swap the local
    `shutil.rmtree` for the filesystem's delete — the one non-portable
    line.

    Returns (doc_id, component_id) for every node appearing in `pairs`,
    component_id = min doc_id of the component. Raises if not converged
    within max_iter (silent wrong labels are worse than failing).
    """
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Observation

    spark = pairs.sparkSession
    base = work_dir or os.environ.get("SPARK_GRAFT_STAGE_DIR", tempfile.gettempdir())
    wd = tempfile.mkdtemp(prefix="cc-", dir=base)
    atexit.register(shutil.rmtree, wd, ignore_errors=True)
    tag = uuid.uuid4().hex[:8]

    def _stage(df: DataFrame, name: str, with_checksum: bool):
        """Materialize `df` once to parquet; return (scan, checksum|None).
        The checksum is a decimal(38,0) xxhash64 sum (10^10 edges × 2^63 ≈
        10^29 « 10^38 — ANSI mode makes a long-sum throw) observed ON the
        write, so each round is exactly one job."""
        path = os.path.join(wd, name)
        chk = None
        if with_checksum:
            obs = Observation(f"cc_{tag}_{name}")
            df = df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
                ).alias("s"),
            )
            df.write.parquet(path)
            chk = (obs.get["n"], obs.get["s"])
        else:
            df.write.parquet(path)
        return spark.read.parquet(path), path, chk

    # materialize the input ONCE: every round's sym references the edge
    # set twice (union + swap) and `nodes` is reused after the loop —
    # without this, an expensive upstream (e.g. the full minhash pipeline)
    # re-executes per reference, and a nondeterministic source could hand
    # `nodes` a different edge set than the one the labels were computed
    # from. Staged BEFORE the self-loop filter so nodes appearing only in
    # (x, x) pairs still get an output row (labeled themselves).
    raw, raw_path, _ = _stage(
        pairs.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        ),
        "raw",
        with_checksum=False,
    )
    e = raw.filter(F.col("u") != F.col("v"))
    nodes = (
        raw.select("u").union(raw.select(F.col("v").alias("u"))).distinct()
    )

    prev = None
    prev_path: str | None = None
    for i in range(max_iter):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        # large-star: every strictly-larger neighbor points at the
        # neighborhood min (incl. self) — breaks long chains
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the large-star output. large's edges are already
        # oriented max→min and loop-free (emitted (v, m) has
        # m ≤ center < v), so no re-orientation pass is needed
        oriented = large
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        e, path, cur = _stage(small, f"round-{i}", with_checksum=True)
        # the previous round's files are dead once the new round is
        # materialized — nothing lazy references them; delete eagerly so
        # live storage is bounded at raw + two rounds, never O(rounds)
        if prev_path is not None:
            shutil.rmtree(prev_path, ignore_errors=True)
        prev_path = path
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    # converged e is a star forest: (node → component min) for every
    # non-root node; roots label themselves
    labels = e.select(F.col("u").alias("doc_id"), F.col("v").alias("component_id"))
    out = (
        nodes.select(F.col("u").alias("doc_id"))
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("component_id"),
        )
    )
    # the labels are tiny next to the edge rounds (one row per node):
    # materialize them so raw + the final round can be deleted NOW rather
    # than living until process exit
    out, _, _ = _stage(out, "labels", with_checksum=False)
    shutil.rmtree(raw_path, ignore_errors=True)
    if prev_path is not None:
        shutil.rmtree(prev_path, ignore_errors=True)
    return out


def embedding_near_dups(
    emb: DataFrame, threshold: float = 0.95, n_planes: int = 12, seed: int = 7,
    method: str = "auto", max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane LSH bucket join, then
    exact cosine inside buckets. Planes are deterministic from `seed`.
    Small plane matrices fold JVM-side (literal arrays); past the literal
    budget (production dims: 768 × n_planes) the signature runs as one
    Arrow batch — sign(X @ P.T) packed to an int bucket — against an
    executor-broadcast plane matrix. Output (vec_a, vec_b, cos_sim).
    `max_bucket` is the hot-bucket guard (see _cap_groups) for the scale
    path (e.g. zero/constant embeddings collapsing to one bucket); None
    keeps the exhaustive oracled semantics."""
    import numpy as np

    from .similarity import _use_arrow

    dim = len(emb.select("embedding").head()["embedding"])
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim))
    if _use_arrow(planes.size, method):
        from pyspark.sql.functions import pandas_udf

        bc = emb.sparkSession.sparkContext.broadcast(planes)

        @pandas_udf("long")
        def bucket_of(col: pd.Series) -> pd.Series:
            p = bc.value
            x = np.stack(col.to_numpy())
            bits = (x @ p.T) > 0  # (batch, n_planes) bools
            weights = (1 << np.arange(p.shape[0], dtype=np.int64))
            return pd.Series((bits @ weights).astype(np.int64))

        sig = bucket_of(F.col("embedding"))
    else:
        sig = None
        for i in range(n_planes):
            lit = F.array(*[F.lit(float(x)) for x in planes[i]])
            dot = F.aggregate(F.zip_with("embedding", lit, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v)
            bit = F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
    bucketed = _cap_groups(
        emb.select("vec_id", "embedding", sig.alias("bucket")), ["bucket"], max_bucket
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.embedding"), F.col("b.embedding"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    norm = lambda side: F.sqrt(  # noqa: E731
        F.aggregate(F.col(f"{side}.embedding"), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot / (norm("a") * norm("b"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# --- X60: edit-distance-1 similarity join (deletion-neighborhood) -----------


def edit1_pairs(
    strs: DataFrame,
    key_col: str = "doc_id",
    str_col: str = "t",
    cap: int | None = 64,
) -> DataFrame:
    """All pairs within Levenshtein distance ≤ 1, without an all-pairs
    join: FastSS deletion-neighborhood blocking (Bocek et al. 2007,
    public report). Candidates = pairs sharing any member of
    D1(s) = {s} ∪ {s with one char deleted}; completeness for d ≤ 1:
    substitution ⇒ both sides' deletion at the differing index
    coincide, insertion/deletion ⇒ the shorter string is itself in the
    longer's neighborhood, equality ⇒ s ∈ D1(s). Candidates are then
    verified with the exact `levenshtein` (false positives exist —
    deleting DIFFERENT positions can collide).

    Scale shape: |D1| = len+1 variants per row — the blocking index is
    O(n·len), the join an equi-join on variant, and the quadratic
    hazard (a variant shared by a huge group — e.g. one boilerplate
    title) is the usual `_cap_groups` drop. Never a cross join, never a
    per-pair UDF: `levenshtein` is a JVM expression on both engines."""
    n = F.length(F.col(str_col))
    dels = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            F.col(str_col).substr(F.lit(1), i - 1),
            F.col(str_col).substr(i + 1, n - i),
        ),
    )
    variants = F.array_distinct(
        F.concat(F.array(F.col(str_col)), F.when(n >= 1, dels).otherwise(F.array()))
    )
    v = strs.select(key_col, str_col, F.explode(variants).alias("var"))
    v = _cap_groups(v, ["var"], cap)
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(b, F.col("a.var") == F.col("b.var"))
        .filter(F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
        .select(
            F.col(f"a.{key_col}").alias("doc_a"),
            F.col(f"a.{str_col}").alias("ta"),
            F.col(f"b.{key_col}").alias("doc_b"),
            F.col(f"b.{str_col}").alias("tb"),
        )
        .distinct()
    )
    dist = F.levenshtein("ta", "tb")
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= 1)
        .select("doc_a", "doc_b", "dist")
    )


# --- X83: exact-threshold set-similarity self-join (prefix filtering) --------


def prefix_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    t_milli: int = 500,
    cap: int | None = None,
) -> DataFrame:
    """EXACT all-pairs set-similarity self-join at Jaccard ≥ t over word
    bigram shingles — the deterministic complement to the probabilistic
    MinHash-LSH family (Bayardo et al. 2007 "Scaling Up All Pairs
    Similarity Search" / PPJoin, Xiao et al. 2008): no missed pairs, no
    false positives, so it is the reconciliation pass a dedup pipeline
    runs where recall must be provable.

    Prefix filter: order every doc's distinct shingles by ascending
    global document frequency (ties by token — one total order); a doc
    with n shingles can reach Jaccard ≥ t with another only via a token
    in its first n − ceil(t·n) + 1 (pigeonhole: |A∩B| ≥ t·|A| can't fit
    in the shorter suffix). Candidates = equi-join of PREFIX rows only,
    so the join keys are each doc's RAREST tokens by construction —
    df-ascending ordering is what makes the fan-out survive 100 TB.
    Verification is JVM-side array_intersect on the two shingle arrays
    (doc-sized rows, no second explode). All thresholds in integer
    milli-units: 1000·|A∩B| ≥ t_milli·|A∪B| — no floats, oracle-exact.

    `cap` optionally drops candidate tokens hotter than `cap` (the
    `_cap_groups` guard) — that trades the exactness guarantee for a
    bound on degenerate corpora (every doc identical), so the default
    keeps it off; LSH is the right tool for such corpora anyway.

    Scale shape: one explode → df groupBy (map-side combine) → one
    doc-partitioned rank window (doc-sized groups) → prefix-token
    equi-join → distinct → two doc_id joins for verify. No Python."""
    w = F.split(F.col(text_col), " ")
    base = docs.select("doc_id", w.alias("_w")).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "zip_with(slice(_w, 1, size(_w) - 1), slice(_w, 2, size(_w) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("_s"),
    ).filter(F.size("_s") > 0)
    tok = base.select(
        "doc_id", F.size("_s").alias("n"), F.explode("_s").alias("tok")
    )
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    rw = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))
    ranked = tok.join(dfreq, "tok").withColumn("rnk", F.row_number().over(rw))
    prefix = ranked.filter(
        F.col("rnk")
        <= F.expr(f"n - (({t_milli} * n + 999) div 1000) + 1")
    ).select("doc_id", "tok")
    prefix = _cap_groups(prefix, ["tok"], cap)
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, F.col("a.tok") == F.col("b.tok"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .distinct()
    )
    sa = base.select(
        F.col("doc_id").alias("da"), F.col("_s").alias("_sa"),
        F.size("_s").alias("na"),
    )
    sb = base.select(
        F.col("doc_id").alias("db"), F.col("_s").alias("_sb"),
        F.size("_s").alias("nb"),
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        cand.join(sa, "da")
        .join(sb, "db")
        .withColumn("inter_cnt", inter.cast("long"))
        .withColumn(
            "union_cnt", (F.col("na") + F.col("nb") - inter).cast("long")
        )
        .filter(F.lit(1000) * F.col("inter_cnt") >= F.lit(t_milli) * F.col("union_cnt"))
        .select(
            "da",
            "db",
            "inter_cnt",
            "union_cnt",
            F.expr("(1000 * inter_cnt) div union_cnt").cast("long").alias("jacc_milli"),
        )
    )


# --- X85: sorted-neighborhood dedup (SNM blocking) ---------------------------


def sorted_neighborhood_pairs(
    docs: DataFrame,
    key_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    max_dist: int = 4,
    key_len: int = 32,
) -> DataFrame:
    """Sorted-neighborhood method (Hernández & Stolfo 1995): normalize a
    blocking key, sort the corpus ONCE by (key, id), and compare only
    records within `window` positions of each other in that total order
    — the classic entity-resolution complement to hash blocking
    (MinHash-LSH finds high-Jaccard pairs, FastSS edit<=1; SNM finds
    pairs whose keys are lexicographic NEIGHBORS, e.g. shared long
    prefixes with late typos, which land in different LSH/deletion
    buckets).

    Scale shape — the two classic quadratic/serial hazards are avoided:

    * The global sort position is a `cell_rank`. Cell: the key's first
      two characters — cells partition the LEXICOGRAPHIC range, so a
      prefix is a monotone coarsening of (key, id). After the normalize
      below the alphabet is [a-z0-9 ] ⇒ <= ~1.4k cells. (Adversarially
      hot 2-char prefixes extend the same split a character deeper —
      monotone prefix refinement.)
    * No self-join fan-out beyond 2×: neighbor candidates join on
      block g = (rank-1) div window, the right side duplicated onto
      {g, g-1}, then 0 < rank_b - rank_a < window — each pair matches
      in exactly one block key.

    Verification is the JVM `levenshtein` on the normalized keys
    (<= max_dist) — no Python, no second shuffle beyond the candidate
    equi-join. Output: (doc_a, doc_b, dist) with doc_a the lower sort
    position (ties in key fall back to ascending id, so output ids are
    deterministic).
    """
    key = F.substring(
        F.regexp_replace(F.lower(F.coalesce(F.col(key_col), F.lit(""))), "[^a-z0-9 ]", ""),
        1,
        key_len,
    )
    keyed = docs.select(F.col(id_col).alias("_id"), key.alias("_key"))
    cells = keyed.withColumn("_b", F.substring("_key", 1, 1)).withColumn(
        "_s", F.substring("_key", 2, 1)
    )
    ranked = cell_rank(cells, ["_b", "_s"], [F.col("_key"), F.col("_id")]).select(
        "_id", "_key", F.col("_rank").cast("long").alias("_r")
    )
    a = ranked.select(
        F.col("_id").alias("doc_a"),
        F.col("_key").alias("_ka"),
        F.col("_r").alias("_ra"),
        F.expr(f"(_r - 1) div {window}").alias("_g"),
    )
    b = ranked.select(
        F.col("_id").alias("doc_b"),
        F.col("_key").alias("_kb"),
        F.col("_r").alias("_rb"),
        F.explode(
            F.array(F.expr(f"(_r - 1) div {window}"), F.expr(f"(_r - 1) div {window} - 1"))
        ).alias("_g"),
    )
    return (
        a.join(b, "_g")
        .filter(
            (F.col("_rb") > F.col("_ra")) & (F.col("_rb") - F.col("_ra") < F.lit(window))
        )
        .withColumn("dist", F.levenshtein("_ka", "_kb"))
        .filter(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", F.col("dist").cast("int").alias("dist"))
    )


def mirror_host_pairs(
    pages: DataFrame,
    host_col: str = "host",
    fp_col: str = "fp",
    min_shared: int = 2,
    min_jaccard_milli: int = 0,
    cap: int | None = None,
) -> DataFrame:
    """Mirror-site detection: host pairs whose content-fingerprint sets
    overlap enough that one is (partially) a copy of the other — the
    crawl-ops complement of document dedup (X1/X3 ask "which PAGES are
    copies"; a scheduler asks "which HOSTS are", so it can collapse
    mirrors to one representative and stop re-fetching the rest; the
    reference crawls a single intranet host, oa.py:63, so host-level
    redundancy never arises there — at web scale it is a top-5 source
    of wasted fetches).

    Input: one row per fetched page with a content fingerprint (any
    exact or near-dup key: text hash, simhash band, phash block).
    Output per unordered host pair (host_a < host_b):

      (host_a, host_b, shared, n_a, n_b, jaccard_milli)

    where `shared` counts distinct fingerprints on both hosts and
    jaccard_milli = 1000·|A∩B| / |A∪B| in exact integer arithmetic
    (floor division — no floats, so the DuckDB oracle matches bit-ween).

    Scale shape: the only quadratic step is the self-join on `fp`, and
    a fingerprint shared by k hosts yields k² pair rows in one task —
    exactly the degenerate-bucket profile every candidate generator in
    this module has, so it runs through the same `_cap_groups` guard
    (a boilerplate footer fingerprint shared by 10⁵ hosts would
    otherwise explode; capped fps drop out of `shared` but stay in the
    per-host sizes, keeping jaccard an underestimate — the safe
    direction for a "stop crawling this host" decision). Everything
    shuffles on fp or on the pair key; sizes are a host-cardinality
    table, broadcast-joined onto the pair aggregate.
    """
    d = pages.select(
        F.col(host_col).alias("_h"), F.col(fp_col).alias("_fp")
    ).distinct()
    sizes = d.groupBy("_h").agg(F.count(F.lit(1)).alias("_n"))
    dd = _cap_groups(d, ["_fp"], cap)
    pairs = (
        dd.select(F.col("_h").alias("host_a"), "_fp")
        .join(
            dd.select(F.col("_h").alias("host_b"), "_fp"),
            "_fp",
        )
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("_h").alias("host_a"), F.col("_n").alias("n_a"))),
            "host_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_h").alias("host_b"), F.col("_n").alias("n_b"))),
            "host_b",
        )
        .withColumn(
            "jaccard_milli",
            F.expr("shared * 1000 div (n_a + n_b - shared)"),
        )
        .filter(F.col("jaccard_milli") >= min_jaccard_milli)
        .select("host_a", "host_b", "shared", "n_a", "n_b", "jaccard_milli")
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_shared: int = 2,
    min_containment_milli: int = 800,
    cap: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Asymmetric near-dup detection: pairs where one document's shingle
    set is largely CONTAINED in the other's — quotes, excerpts, and
    wrapper pages that embed a smaller document whole. Symmetric Jaccard
    (X3/X83) misses these by construction: a 100-word quote inside a
    10,000-word page has Jaccard ≈ 0.01 but containment ≈ 1.0, and a
    training-data pipeline that only Jaccard-dedups keeps the quote as a
    "distinct" document. (The reference fetches attachments embedded in
    parent pages, oa.py:372-382 — the single-host version of the same
    containment relation.)

    Output per unordered candidate pair (doc_a < doc_b):

        (doc_a, doc_b, shared, n_a, n_b,
         cont_a_milli,   # 1000·|A∩B| div |A| — how much of A is in B
         cont_b_milli,   # 1000·|A∩B| div |B|
         direction)      # 'a_in_b' / 'b_in_a' / 'mutual'

    kept when max(cont_a, cont_b) ≥ min_containment_milli. Exact integer
    floor-division throughout, so the DuckDB oracle is value-identical.

    Scale shape: same candidate discipline as every generator in this
    module — distinct (doc, shingle) self-join on the shingle key
    through `_cap_groups` (a boilerplate shingle on 10⁵ docs is the
    degenerate bucket; capped shingles stay in the per-doc sizes, so
    containment only underestimates — the safe direction for a dedup
    drop decision), per-doc sizes joined back on the doc keys (corpus-
    sized, NOT broadcast). `portable=True` hashes shingles with md5h60
    so the oracle reproduces them; xxhash64 stays the scale default."""
    sh = shingles(docs, text_col, k, portable=portable)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"))
    capped = _cap_groups(sh, ["shingle_hash"], cap)
    pairs = (
        capped.select(F.col("doc_id").alias("doc_a"), "shingle_hash")
        .join(
            capped.select(F.col("doc_id").alias("doc_b"), "shingle_hash"),
            "shingle_hash",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    cont_a = F.expr("shared * 1000 div n_a")
    cont_b = F.expr("shared * 1000 div n_b")
    thr = F.lit(min_containment_milli)
    return (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("_n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("_n").alias("n_b")), "doc_b")
        .withColumn("cont_a_milli", cont_a)
        .withColumn("cont_b_milli", cont_b)
        .filter(F.greatest("cont_a_milli", "cont_b_milli") >= thr)
        .withColumn(
            "direction",
            F.when((F.col("cont_a_milli") >= thr) & (F.col("cont_b_milli") >= thr), "mutual")
            .when(F.col("cont_a_milli") >= thr, "a_in_b")
            .otherwise("b_in_a"),
        )
        .select(
            "doc_a", "doc_b", "shared", "n_a", "n_b",
            "cont_a_milli", "cont_b_milli", "direction",
        )
    )


def dedup_audit(
    assignments: DataFrame,
    truth: DataFrame,
    key_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    truth_col: str = "truth_id",
) -> DataFrame:
    """Pair-level quality audit of a dedup clustering against ground
    truth (exact content identity, a labeled sample, or a stricter
    pass): precision/recall over DOC PAIRS, the standard clustering
    contingency — the QA gate that tells you whether the MinHash/SimHash
    banding is over- or under-merging before you delete anything.

    Exact integers throughout: TP = Σ_(c,t) C(n_ct,2), predicted pairs
    = Σ_c C(n_c,2), truth pairs = Σ_t C(n_t,2) (pair counts per group
    stay in long — safe to n ≈ 3·10⁹ per group — and the cross-group
    sums ride DECIMAL(38,0), the ANSI-mode overflow discipline), FP/FN
    by subtraction, precision/recall in milli by integer div. Three
    map-side-combined groupBys over (cluster×truth), cluster, truth —
    never a pair join (C(n,2) materialized pairs at 10⁸ docs is the
    scale-killer this aggregation form exists to avoid).

    Output: one row (n_docs, n_clusters, n_truth, tp_pairs, pred_pairs,
    true_pairs, fp_pairs, fn_pairs, precision_milli, recall_milli)."""
    j = assignments.select(
        F.col(key_col).alias("_k"), F.col(cluster_col).alias("_c")
    ).join(
        truth.select(F.col(key_col).alias("_k"), F.col(truth_col).alias("_t")),
        "_k",
    )

    def pairs_of(cnt):
        return (cnt * (cnt - 1)).cast("decimal(38,0)")

    ct = (
        j.groupBy("_c", "_t")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(pairs_of(F.col("n"))).alias("tp2"))
    )
    cc = (
        j.groupBy("_c")
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum(pairs_of(F.col("n"))).alias("pred2"),
            F.count("*").alias("n_clusters"),
        )
    )
    tt = (
        j.groupBy("_t")
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum(pairs_of(F.col("n"))).alias("true2"),
            F.count("*").alias("n_truth"),
        )
    )
    nd = j.agg(F.count("*").alias("n_docs"))
    base = nd.crossJoin(ct).crossJoin(cc).crossJoin(tt).select(
        "n_docs",
        "n_clusters",
        "n_truth",
        F.expr("cast(tp2 div 2 as long)").alias("tp_pairs"),
        F.expr("cast(pred2 div 2 as long)").alias("pred_pairs"),
        F.expr("cast(true2 div 2 as long)").alias("true_pairs"),
    )
    return base.select(
        "*",
        (F.col("pred_pairs") - F.col("tp_pairs")).alias("fp_pairs"),
        (F.col("true_pairs") - F.col("tp_pairs")).alias("fn_pairs"),
        F.expr(
            "CASE WHEN pred_pairs = 0 THEN 1000 "
            "ELSE 1000 * tp_pairs div pred_pairs END"
        ).alias("precision_milli"),
        F.expr(
            "CASE WHEN true_pairs = 0 THEN 1000 "
            "ELSE 1000 * tp_pairs div true_pairs END"
        ).alias("recall_milli"),
    )


def cross_doc_spans(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    df_min: int = 2,
    df_max: int = 16,
    max_positions_per_gram: int = 64,
    min_run_tokens: int = 4,
) -> DataFrame:
    """Cross-document verbatim span detection — the ExactSubstr side of
    Lee et al. 2022 that signature dedup (X2/X3) structurally misses:
    two documents sharing a long contiguous token run are near-certain
    template/quotation/mirror artifacts even when their overall Jaccard
    is tiny. Suffix arrays don't distribute; this is the relational
    formulation: rare positional n-grams as anchors, then shared runs
    as DIAGONAL islands — consecutive matched positions at a constant
    offset pa − pb, found with the classic pos − row_number gaps-and-
    islands key. run_tokens = matched n-grams + n − 1.

    Scale shape: the n-gram stream is row-local (ngram_positions); the
    document-frequency filter (df in [df_min, df_max]) keeps only
    anchors rare enough to be meaningful AND join-safe, `_cap_groups`
    bounds any residual hot gram, and the per-(pair, diagonal) windows
    are bounded by document length. Nothing ever materializes the
    all-pairs product."""
    from .text import ngram_positions

    g = ngram_positions(docs, text_col=text_col, n=n)
    dfc = g.groupBy("ngram").agg(F.count_distinct("doc_id").alias("_df"))
    rare = dfc.filter(
        (F.col("_df") >= df_min) & (F.col("_df") <= df_max)
    ).select("ngram")
    gr = _cap_groups(g.join(rare, "ngram"), ["ngram"], max_positions_per_gram)
    a = gr.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "ngram")
    b = gr.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "ngram")
    d = (
        a.join(b, "ngram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
        )
        .distinct()
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        d.withColumn("_grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "_grp")
        .agg(F.count("*").alias("_k"))
        .withColumn("run_tokens", F.col("_k") + F.lit(n - 1))
        .filter(F.col("run_tokens") >= min_run_tokens)
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("run_tokens").alias("max_run_tokens"),
        F.count("*").alias("n_runs"),
    )


def clustering_churn(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Round-over-round dedup-cluster stability: the exact Rand index
    between two clusterings of the same documents, plus split/merge
    counts — the drift alarm for the dedup family itself (a threshold
    or hash change that silently reshuffles cluster membership shows
    up here before it poisons keep-policy decisions downstream).

    Exact integers end to end: contingency counts n_ij from one
    (c_old, c_new) aggregate; pair counts C(n,2) = n·(n−1) div 2 ride
    DECIMAL(38,0) (n(n-1) of a 10^10-doc corpus overflows 63 bits);
    Rand = (C(N,2) + 2·Σij C(n_ij,2) − Σi C(n_i·,2) − Σj C(n_·j,2))
    / C(N,2), reported in milli. splits = old clusters spanning >1 new
    cluster; merges = new clusters drawing from >1 old.

    Scale shape: one doc-keyed equi-join (both sides carry id+cluster
    only), one contingency aggregate (cells ≤ min(|C_old|,|C_new|)
    per row — metadata next to docs), then everything folds on the
    cell table. Output: ONE row (n_docs, clusters_old, clusters_new,
    rand_milli, splits, merges)."""
    a = old.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_co"))
    b = new.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_cn"))
    cells = (
        a.join(b, "_id")
        .groupBy("_co", "_cn")
        .agg(F.count("*").alias("n"))
    )

    rows_o = cells.groupBy("_co").agg(
        F.sum("n").alias("n_i"), F.count("*").alias("span")
    )
    rows_n = cells.groupBy("_cn").agg(
        F.sum("n").alias("n_j"), F.count("*").alias("span")
    )
    s_ij = cells.agg(
        F.sum(F.expr("cast(n as decimal(38,0)) * (n - 1) div 2")).alias("s"),
        F.sum("n").alias("n_docs"),
    )
    s_i = rows_o.agg(
        F.sum(F.expr("cast(n_i as decimal(38,0)) * (n_i - 1) div 2")).alias("s"),
        F.count("*").alias("k"),
        F.sum((F.col("span") > 1).cast("long")).alias("splits"),
    )
    s_j = rows_n.agg(
        F.sum(F.expr("cast(n_j as decimal(38,0)) * (n_j - 1) div 2")).alias("s"),
        F.count("*").alias("k"),
        F.sum((F.col("span") > 1).cast("long")).alias("merges"),
    )
    j = (
        s_ij.crossJoin(s_i.withColumnRenamed("s", "s_i").withColumnRenamed("k", "k_o"))
        .crossJoin(s_j.withColumnRenamed("s", "s_j").withColumnRenamed("k", "k_n"))
    )
    return j.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("k_o").cast("long").alias("clusters_old"),
        F.col("k_n").cast("long").alias("clusters_new"),
        F.expr(
            "CASE WHEN n_docs < 2 THEN 1000 ELSE cast("
            "1000 * (cast(n_docs as decimal(38,0)) * (n_docs - 1) div 2"
            " + 2 * s + (- s_i) + (- s_j))"
            " div (cast(n_docs as decimal(38,0)) * (n_docs - 1) div 2)"
            " as long) END"
        ).alias("rand_milli"),
        F.col("splits").cast("long").alias("splits"),
        F.col("merges").cast("long").alias("merges"),
    )


def threshold_sweep(
    pairs: DataFrame,
    truth: DataFrame,
    score_col: str = "score_milli",
    key_cols: tuple = ("doc_a", "doc_b"),
    thresholds: tuple = (500, 600, 700, 800, 900),
) -> DataFrame:
    """Dedup-threshold tuning in ONE pass: precision/recall at every
    candidate threshold from a single scored-pair table and a truth
    pair set — the curve an operator reads before picking the
    similarity cutoff (measured, not guessed; complements X104's
    single-clustering audit). Exact integer milli P/R.

    Plan: one full-outer join of scored pairs to truth on the pair key
    (both sides pair-cardinality, tiny next to the corpus), each joined
    row exploded over the literal threshold list, then ONE groupBy
    threshold of conditional sums (the oracle's CROSS JOIN shape) — the
    join is evaluated once, never once per threshold. Output:
    (threshold, n_predicted, n_truth, tp, precision_milli,
    recall_milli) rows."""
    t = truth.select(*key_cols).withColumn("_is_true", F.lit(1))
    j = pairs.select(*key_cols, score_col).join(t, list(key_cols), "full_outer")
    thr = F.explode(F.array(*[F.lit(int(x)) for x in thresholds]))
    pred = F.col(score_col) >= F.col("threshold")
    out = (
        j.select(thr.alias("threshold"), score_col, "_is_true")
        .groupBy("threshold")
        .agg(
            F.sum(F.coalesce(pred.cast("long"), F.lit(0))).alias("n_predicted"),
            F.sum(F.coalesce(F.col("_is_true"), F.lit(0))).alias("n_truth"),
            F.sum(
                F.coalesce((pred & F.col("_is_true").isNotNull()).cast("long"), F.lit(0))
            ).alias("tp"),
        )
    )
    return out.select(
        "threshold",
        F.col("n_predicted").cast("long").alias("n_predicted"),
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("tp").cast("long").alias("tp"),
        F.expr(
            "CASE WHEN n_predicted = 0 THEN 1000 "
            "ELSE 1000 * tp div n_predicted END"
        ).alias("precision_milli"),
        F.expr(
            "CASE WHEN n_truth = 0 THEN 1000 ELSE 1000 * tp div n_truth END"
        ).alias("recall_milli"),
    )
