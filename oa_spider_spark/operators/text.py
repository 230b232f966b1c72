"""Text-analysis operators over `documents(doc_id, text, lang, ...)` —
all native column expressions (regex/length/split arithmetic), no Python
in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cellrank import cell_rank, quantize

# tiny stopword list for quality scoring (deterministic, language-neutral
# enough for synthetic data)
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID by script share: cjk / latin / digits/mixed.
    (The reference handles GBK-vs-UTF8 content by site, oa.py:931,963 —
    here script detection is a column expression.)"""
    t = F.col(text_col)
    n = F.length(t)
    cjk = F.length(F.regexp_replace(t, r"[^一-龥]", ""))
    latin = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    pred = (
        F.when(n == 0, "empty")
        .when(cjk / n > 0.3, "cjk")
        .when(latin / n > 0.3, "latin")
        .otherwise("mixed")
    )
    return docs.select("doc_id", pred.alias("pred_lang"))


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish subword estimate (word chunks of ≤4
    chars — a deterministic proxy for BPE token counting)."""
    t = F.trim(F.col(text_col))
    tokens = F.split(t, r"\s+")
    n_tok = F.size(tokens)
    n_sub = F.aggregate(
        tokens, F.lit(0), lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("int")
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_sub.alias("n_subwords"),
        F.length(t).alias("n_chars_calc"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality heuristics: alpha/punct/stopword ratios, mean
    word length, and a 0-1 score."""
    t = F.col(text_col)
    n = F.length(t)
    tokens = F.split(F.lower(F.trim(t)), r"\s+")
    n_tok = F.size(tokens)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda w: F.array_contains(stop_arr, w)))
    alpha_ratio = F.length(F.regexp_replace(t, "[^A-Za-z]", "")) / n
    punct_ratio = F.length(F.regexp_replace(t, r"[^.!?,;:]", "")) / n
    stop_ratio = n_stop / n_tok
    score = (
        F.least(alpha_ratio * 2, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
        + (1 - F.least(punct_ratio * 10, F.lit(1.0))) * 0.3
    )
    return docs.select(
        "doc_id",
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def fingerprint(
    docs: DataFrame, text_col: str = "text", window: int = 8, portable: bool = False
) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-style): min hash
    over all `window`-grams — one long per doc, shift-robust. Default
    xxhash64 (scale path); portable=True uses the md5-60bit hash so the
    value is reproducible in a DuckDB oracle."""
    from .dedup import md5h60

    t = F.col(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - window + 1, F.lit(1)))
    hf = md5h60 if portable else F.xxhash64
    grams = F.transform(idx, lambda i: hf(t.substr(i, F.lit(window))))
    return docs.select("doc_id", F.array_min(grams).alias("fingerprint"))


# BM25 constants. K1P1 is spelled as its own decimal literal (not computed
# k1+1): 1.2+1.0 rounds to a DIFFERENT double than the literal 2.2, and the
# DuckDB oracle interpolates these exact literals — both engines must parse
# the same decimal string to get bit-identical IEEE doubles.
BM25_K1 = 1.2
BM25_K1P1 = 2.2
BM25_B = 0.75


def _bm25_tokens(text_col: F.Column) -> F.Column:
    return F.filter(
        F.split(F.lower(text_col), r"[^a-z0-9]+"), lambda w: w != F.lit("")
    )


def bm25_score(
    docs: DataFrame, terms: list[str], text_col: str = "text"
) -> DataFrame:
    """BM25 relevance of every document against a small query-term set,
    entirely JVM-side and value-oracle-able.

    Numeric discipline (same rule as queries_analytics.py): the standard
    BM25 idf is ln((N-df+0.5)/(df+0.5)+1), but ln is NOT guaranteed
    correctly rounded and java.lang.Math vs libm differ in the last ulp —
    so this uses the monotone *rational* idf variant
    (N-df+0.5)/(df+0.5) directly (same ranking order; documented
    deviation). Every remaining op is IEEE +,-,*,/ over exact integers
    (all correctly rounded, so Spark and DuckDB produce bit-identical
    doubles given the identical expression tree), and each term's
    contribution is floored to integer micro-units BEFORE the cross-term
    sum, so the final score is exact integer math.

    Scale (100 TB): per-term tf is an array filter inside the row — no
    token explode, no shuffle of the corpus. Corpus stats (N, sum_dl,
    per-term df) collapse to ONE row via map-side combine and are
    broadcast back; two scans of the text column total (cache `base`
    to make it one on a real cluster).
    """
    toks = _bm25_tokens(F.col(text_col))

    def _eq(term: str):
        # single-arg lambda: a 2-arg lambda (e.g. `lambda w, t=t: ...`)
        # makes F.filter pass the ARRAY INDEX as the second argument,
        # silently rebinding the default
        return lambda w: w == F.lit(term)

    base = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq(t))).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        idf = (
            (F.col("n_docs") - df).cast("double") + F.lit(0.5)
        ) / (df.cast("double") + F.lit(0.5))
        denom = tf.cast("double") + F.lit(BM25_K1) * (
            F.lit(1.0) - F.lit(BM25_B)
            + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
        contrib = F.floor(
            idf * (tf.cast("double") * F.lit(BM25_K1P1)) / denom
            * F.lit(1000000.0)
        )
        contribs.append(F.when(tf > 0, contrib).otherwise(F.lit(0)))
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    n_matched = sum(
        (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(terms))
    )
    return j.select(
        "doc_id",
        score.alias("score_micro"),
        n_matched.alias("n_terms"),
    ).filter(F.col("score_micro") > 0)


# --- X53: repetition / boilerplate quality rules ---------------------------


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    min_distinct: int = 300,
    max_top_bigram: int = 60,
) -> DataFrame:
    """Gopher/C4-style repetition signals per document, all in exact
    integer milli-units (reference has no analog — this is the curation
    rule family a 100-TB training pipeline runs after dedup; Rae et al.
    2021 "Scaling Language Models" §A.1.1 is the public spec):

      n_words             whitespace tokens
      top_word_milli      1000·(count of most frequent word)/n_words
      top_bigram_milli    1000·(count of most frequent bigram)/n_bigrams
      distinct_milli      1000·(distinct words)/n_words
      keep                distinct_milli ≥ min_distinct AND
                          top_bigram_milli ≤ max_top_bigram

    Scale shape: explode → groupBy(doc_id, word) with map-side combine —
    never a per-row O(len²) array self-count (a 20k-word document would
    pay 4·10⁸ comparisons row-side). Two shuffles on high-cardinality
    keys; bigram counts ride the same pattern. Fractions are integer
    `div` so the DuckDB oracle is value-exact."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select("doc_id", toks.alias("_t"))
    # bigrams via zip_with over the two shifted slices: slice length
    # size-1 is 0 for one-word docs → empty array, no sequence(2,1)
    # descending-sequence trap
    bigrams = F.expr(
        "zip_with(slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    ws = (
        base.select("doc_id", F.explode("_t").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_word_cnt"),
            F.count("*").alias("n_distinct"),
            F.sum("c").alias("n_words"),
        )
    )
    bs = (
        base.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_cnt"), F.sum("c").alias("n_bigrams"))
    )
    out = ws.join(bs, "doc_id", "left")
    top_word = F.expr("(top_word_cnt * 1000) div n_words")
    top_bigram = F.coalesce(
        F.expr("(top_bigram_cnt * 1000) div n_bigrams"), F.lit(0)
    )
    distinct = F.expr("(n_distinct * 1000) div n_words")
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        top_word.cast("long").alias("top_word_milli"),
        top_bigram.cast("long").alias("top_bigram_milli"),
        distinct.cast("long").alias("distinct_milli"),
        ((distinct >= min_distinct) & (top_bigram <= max_top_bigram)).alias("keep"),
    )


# --- X54: integer TF-IDF top terms ------------------------------------------


def tfidf_top_terms(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by an all-integer
    rarity-weighted score: score_milli = (tf · 1000 · N) div df — the
    TF-IDF ranking with the monotone log dropped so the score is pure
    BIGINT arithmetic (log(N/df) and tf·N/df order identically for
    fixed tf; cross-engine ln is not bit-stable, CLAUDE.md invariant).
    tf·1000·N stays < 2⁶³ up to N = 10¹⁰ docs × tf ~ 10⁵.

    Scale shape: explode → tf groupBy(doc_id, term) (map-side combine)
    → df groupBy(term) → tf⋈df shuffle join on term (vocab at corpus
    scale is too big to broadcast; the corpus-size row IS broadcast —
    BM25's one-row stats pattern) → row_number window partitioned by
    doc_id (high-cardinality partitions). Ties break on term asc so the
    top-k set is deterministic."""
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score_milli", F.expr("(tf * 1000 * n_docs) div df").cast("long"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_milli"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score_milli", "rank")
    )


# --- X67: corpus-trained bigram fluency score --------------------------------


def bigram_fluency(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """LM-based quality filtering (the CCNet/KenLM pattern: score each
    document under a language model trained on the corpus, drop the
    tail) as an exact-integer twin: the "model" is corpus bigram/prefix
    counts, and a document's score is the mean transition frequency

        score_micro = (Σ_bigrams floor(10⁶·c(a,b)/c(a·))) div n_bigrams

    — high for documents whose word transitions are common in the
    corpus, low for shuffled/garbled text. No logs, no floats: every
    step is BIGINT arithmetic, so the DuckDB oracle is value-exact and
    the score is stable under any partitioning (real perplexity needs
    log-probs; the RANKING this filter needs survives the monotone
    transform, same argument as integer TF-IDF).

    Scale shape: one bigram explode feeding two count aggregations
    (the trained "model" tables — vocab-sized, persistable exactly like
    the dedup corpus index), then one join of doc-bigrams to model
    counts on the bigram key and a per-doc aggregate. All shuffles on
    high-cardinality keys; map-side combine everywhere; no Python."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select("doc_id", toks.alias("_t"))
    bigrams = F.expr(
        "zip_with(slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1),"
        " (a, b) -> struct(a AS w1, b AS w2))"
    )
    db = base.select("doc_id", F.explode(bigrams).alias("bg")).select(
        "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    model_bi = db.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    model_uni = db.groupBy("w1").agg(F.count("*").alias("c_a"))
    scored = (
        db.join(model_bi, ["w1", "w2"])
        .join(model_uni, "w1")
        .withColumn("_tf", F.expr("(1000000 * c_ab) div c_a"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.expr("sum(_tf) div count(*)").cast("long").alias("score_micro"),
            F.count("*").cast("long").alias("n_bigrams"),
        )
    )


# --- X81: paragraph-level boilerplate dedup ----------------------------------


def paragraph_dedup(
    docs: DataFrame, paras_col: str = "paras", max_df: int = 5
) -> DataFrame:
    """CCNet-style paragraph-level dedup with document reassembly
    (Wenzek et al. 2020 §3.1: hash every paragraph, drop the ones that
    repeat across the corpus — the standard boilerplate/header/footer
    scrub an LLM corpus runs BEFORE doc-level dedup; the reference
    crawls card pages whose shared chrome is exactly this shape,
    oa.py:806-817). Input: (doc_id, paras array<string>); a paragraph
    is dropped when its exact text occurs in more than `max_df`
    positions corpus-wide. Output per doc: the surviving paragraphs
    re-joined in original order + kept/dropped counts.

    Scale shape: posexplode → groupBy(para) with map-side combine →
    HAVING df > max_df produces the DROP SET (one row per boilerplate
    paragraph — far smaller than the corpus and never replicated), then
    a left join of the exploded rows against it on para. The hot keys
    ARE the boilerplate (a site-wide footer at 100 TB is billions of
    identical rows), so the drop test must be a JOIN — AQE splits a
    skewed probe side; a count-over-Window partitioned by para would
    pin every replica of the hottest paragraph in one task. Reassembly
    is one groupBy(doc_id) with sort_array over (pos, para) structs —
    deterministic order without a window. No Python anywhere."""
    ex = docs.select(
        "doc_id", F.posexplode(F.col(paras_col)).alias("pos", "para")
    )
    dropped = (
        ex.groupBy("para")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("para", F.lit(True).alias("_drop"))
    )
    flagged = ex.join(dropped, "para", "left")
    keep = F.col("_drop").isNull()
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.when(keep, F.struct("pos", "para")))
                ),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("clean_text"),
        F.sum(keep.cast("int")).cast("long").alias("n_kept"),
        F.sum((~keep).cast("int")).cast("long").alias("n_dropped"),
    )


# --- X94: collocation mining via exact-integer lift (PMI twin) ----------------


def collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    min_lift_milli: int = 2000,
) -> DataFrame:
    """Corpus collocation mining — bigrams that co-occur far more often
    than their parts predict (multi-word expressions: "new york",
    "machine learning"), the phrase-vocabulary builder for a training
    tokenizer (word2vec's phrase pass, Mikolov et al. 2013 §4). The
    association score is the exact-integer twin of PMI: PMI's log is
    monotone in the lift ratio, so thresholding/ranking on

        lift_milli = (1000 · c(a,b) · N) div (c(a,·) · c(·,b))

    is equivalent to thresholding PMI, with zero floats — lift > 1000
    means "more often than independence predicts". c(a,·)/c(·,b) are the
    positional marginals (w1-slot / w2-slot counts), N total bigrams.
    Products run in DECIMAL(38,0): at web scale c·N reaches ~10²⁸ and
    BIGINT ANSI-overflows (the same rule as connected_components' edge
    checksum); DuckDB's HUGEINT twin is exact at 128 bits.

    Scale shape: one bigram explode (zip_with over shifted slices — the
    CLAUDE.md-pinned pattern, F.sequence is descending on short rows)
    feeding three map-side-combined count aggregations; the pair table
    (vocab²-bounded, ≪ corpus) then joins its two marginals on single
    token keys and the one-row N frame by crossJoin — the documented
    scalar-broadcast pattern. No Python, no windows, no all-pairs."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(toks.alias("_t"))
    bigrams = F.expr(
        "zip_with(slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1),"
        " (a, b) -> struct(a AS w1, b AS w2))"
    )
    db = base.select(F.explode(bigrams).alias("bg")).select("bg.w1", "bg.w2")
    pair = db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    left = db.groupBy("w1").agg(F.count(F.lit(1)).alias("c_a"))
    right = db.groupBy("w2").agg(F.count(F.lit(1)).alias("c_b"))
    n = db.agg(F.count(F.lit(1)).alias("n_bigrams"))
    return (
        pair.filter(F.col("c_ab") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "lift_milli",
            F.expr(
                "CAST((CAST(1000 AS DECIMAL(38,0)) * c_ab * n_bigrams)"
                " div (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)"
            ),
        )
        .filter(F.col("lift_milli") >= min_lift_milli)
        .select("w1", "w2", "c_ab", "c_a", "c_b", "lift_milli")
    )


def phrase_match(
    docs: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search over a positional inverted index — the IR
    primitive behind contamination checks ("does this benchmark sentence
    appear verbatim?") and quoted-query retrieval, distinct from the
    bag-of-words BM25 path above.

    Index shape: posexplode tokens → (id, term, sorted position list).
    The phrase-term filter sits UNDER the explode, so only the |phrase|
    query terms' postings are built and shuffled — the corpus never
    moves. At 10^10 docs the shuffled volume is the phrase terms'
    posting lists, the same rows a dedicated inverted index would read.

    Match = chained positional intersection: starting from word 0's
    positions, step i intersects (prev positions + 1) with word i's
    positions — after the last step the survivors are the END positions
    of exact phrase occurrences (overlapping occurrences all counted).
    Each step is one id-keyed equi-join + a row-local array_intersect;
    no window, no Python, no all-pairs. first_pos is 0-based.
    """
    if len(phrase) < 2:
        raise ValueError("phrase_match needs >= 2 words")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    posts = (
        docs.select(F.col(id_col), F.posexplode(toks).alias("pos", "term"))
        .filter(F.col("term").isin(sorted(set(phrase))))
        .groupBy(id_col, "term")
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
    )
    cur = posts.filter(F.col("term") == phrase[0]).select(
        F.col(id_col), F.col("ps").alias("cur")
    )
    for w in phrase[1:]:
        nxt = posts.filter(F.col("term") == F.lit(w)).select(
            F.col(id_col), F.col("ps").alias("_nx")
        )
        cur = (
            cur.join(nxt, id_col)
            .select(
                F.col(id_col),
                F.array_intersect(
                    F.transform(F.col("cur"), lambda p: p + F.lit(1)),
                    F.col("_nx"),
                ).alias("cur"),
            )
            .filter(F.size("cur") > 0)
        )
    return cur.select(
        F.col(id_col),
        F.size("cur").alias("n_matches"),
        (F.array_min("cur") - F.lit(len(phrase) - 1)).alias("first_pos"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_word_len_milli: int = 2500,
    max_word_len_milli: int = 10_000,
    max_symbol_milli: int = 100,
    min_alpha_milli: int = 800,
    max_bullet_milli: int = 900,
    max_ellipsis_milli: int = 300,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher document-level quality rules (Rae et al. 2021 §A.1.1, the
    public spec) with a per-rule failure BITMASK — at corpus scale the
    diagnostic question is never just "keep?" but "which rule is eating
    my corpus?", and the mask aggregates into that histogram with one
    groupBy. Complements repetition_stats (word/bigram repetition):
    these are the structural rules — word-count bounds, mean word
    length, symbol-word and alpha-word fractions, bullet-/ellipsis-line
    fractions, required-stopword hits.

    Bits: 1 word count ∉ [min,max] · 2 mean word length ∉ [min,max] ·
    4 symbol words > max · 8 alpha words < min · 16 bullet lines > max ·
    32 ellipsis lines > max · 64 stopword hits < min. keep ⇔ mask = 0.

    Scale shape: every signal is a row-local array expression over the
    token/line splits — ZERO shuffles, no explode (a 20k-word document
    never leaves its row). Fractions are exact integer milli-units via
    `div` on named columns (CLAUDE.md: no public Column div, float `/`
    corrupts past 2^53), so the DuckDB oracle is value-exact."""
    t = F.trim(F.col(text_col))
    words = F.split(t, r"\s+")
    lines = F.split(F.col(text_col), "\n")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    base = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(lines).cast("long").alias("n_lines"),
        F.aggregate(
            words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).alias("_chars"),
        F.size(F.filter(words, lambda w: w.contains("#"))).cast("long").alias("_sym"),
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        .cast("long")
        .alias("_alpha"),
        F.size(F.filter(lines, lambda line: line.startswith("- ")))
        .cast("long")
        .alias("_bullet"),
        F.size(F.filter(lines, lambda line: line.endswith("...")))
        .cast("long")
        .alias("_ell"),
        F.size(F.filter(stop_arr, lambda s: F.array_contains(words, s)))
        .cast("long")
        .alias("stop_hits"),
    )
    m = base.select(
        "doc_id",
        "n_words",
        "n_lines",
        "stop_hits",
        F.expr("1000 * _chars div n_words").alias("word_len_milli"),
        F.expr("1000 * _sym div n_words").alias("symbol_milli"),
        F.expr("1000 * _alpha div n_words").alias("alpha_milli"),
        F.expr("1000 * _bullet div n_lines").alias("bullet_milli"),
        F.expr("1000 * _ell div n_lines").alias("ellipsis_milli"),
    )
    fail = (
        F.when(
            (F.col("n_words") < min_words) | (F.col("n_words") > max_words), 1
        ).otherwise(0)
        + F.when(
            (F.col("word_len_milli") < min_word_len_milli)
            | (F.col("word_len_milli") > max_word_len_milli),
            2,
        ).otherwise(0)
        + F.when(F.col("symbol_milli") > max_symbol_milli, 4).otherwise(0)
        + F.when(F.col("alpha_milli") < min_alpha_milli, 8).otherwise(0)
        + F.when(F.col("bullet_milli") > max_bullet_milli, 16).otherwise(0)
        + F.when(F.col("ellipsis_milli") > max_ellipsis_milli, 32).otherwise(0)
        + F.when(F.col("stop_hits") < min_stop_hits, 64).otherwise(0)
    )
    return m.withColumn("fail_mask", fail.cast("long")).withColumn(
        "keep", F.col("fail_mask") == 0
    )


def repeated_ngram_spans(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_occurrences: int = 2,
) -> DataFrame:
    """Intra-document repeated n-gram detection (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" — the
    WITHIN-doc repetition their ExactSubstr pass targets, where the
    cross-doc dedup family X1-X4 can't see it): one row per (doc_id,
    n-gram) occurring >= min_occurrences times, with the 0-based first
    and last token positions bounding the repeated span.

    Scale shape: n-grams are built row-locally by folding zip_with over
    n shifted slices (slice length size-n+1 is <= 0 for short docs =>
    empty array; never F.sequence, whose hi<lo DESCENDING trap CLAUDE.md
    documents), then ONE posexplode + ONE (doc_id, ngram) groupBy with
    map-side combine — a 20k-token doc contributes O(tokens) rows, and
    the HAVING-count filter prunes before anything leaves the agg."""
    return (
        ngram_positions(docs, text_col=text_col, n=n)
        .groupBy("doc_id", "ngram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("pos").cast("long").alias("first_pos"),
            F.max("pos").cast("long").alias("last_pos"),
        )
        .filter(F.col("n_occurrences") >= min_occurrences)
    )


def ngram_positions(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Positional word n-gram stream (doc_id, pos, ngram), 0-based —
    the shared primitive under repeated_ngram_spans (within-doc) and
    cross_doc_spans (cross-doc ExactSubstr). n-grams are folded
    row-locally by zip_with over n shifted slices (slice length
    size-n+1 <= 0 for short docs => empty array; never F.sequence,
    whose hi<lo descending trap CLAUDE.md documents), then ONE
    posexplode — O(tokens) rows per doc."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select("doc_id", toks.alias("_t"))
    m = n - 1  # number of shifted zips
    grams = "slice(_t, 1, size(_t) - %d)" % m
    for i in range(2, n + 1):
        grams = (
            "zip_with(%s, slice(_t, %d, size(_t) - %d),"
            " (a, b) -> concat(a, ' ', b))" % (grams, i, m)
        )
    return base.select(
        "doc_id", F.posexplode(F.expr(grams)).alias("pos", "ngram")
    )


def truncation_loss(
    docs: DataFrame,
    lengths: tuple[int, ...] = (128, 256, 512, 1024),
    text_col: str = "text",
) -> DataFrame:
    """Context-length planning curve: for each candidate truncation
    length L (in whitespace tokens), how many documents overflow, how
    many tokens would be cut, and the lost-token fraction in milli —
    the table that decides a pipeline's sequence length / chunking
    policy before anyone trains anything. One row-local token count,
    one explode over the (tiny) L grid, one groupBy(L) with map-side
    combine; totals are DECIMAL(38,0)-safe longs."""
    n = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    g = docs.select(
        n.alias("_n"),
        F.explode(F.array(*[F.lit(int(x)).cast("long") for x in lengths])).alias(
            "trunc_len"
        ),
    )
    return (
        g.groupBy("trunc_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("_n") > F.col("trunc_len")).cast("long")).alias(
                "docs_over"
            ),
            F.sum("_n").alias("total_tokens"),
            F.sum(F.greatest(F.col("_n") - F.col("trunc_len"), F.lit(0))).alias(
                "tokens_lost"
            ),
        )
        .withColumn(
            "lost_milli", F.expr("1000 * tokens_lost div total_tokens")
        )
    )


def bitext_alignment_qa(
    pairs: DataFrame,
    id_cols: list[str],
    text_a_col: str = "text_a",
    text_b_col: str = "text_b",
    min_ratio_milli: int = 600,
) -> DataFrame:
    """Paragraph-level alignment QA for candidate bitext pairs (the
    verification stage after X99's URL pairing, before any pair enters
    a parallel corpus): split both sides on blank lines and score each
    POSITIONAL paragraph pair by the exact integer length ratio — the
    relational approximation of Gale-Church (whose dynamic program is
    inherently sequential; length-ratio screening is its standard cheap
    filter). aligned <=> paragraph counts match AND every pair clears
    the ratio floor.

    Shape: both sides posexplode to (pair, pos, para), a FULL-OUTER
    join on (pair, pos) exposes count mismatches as NULL partners
    (ratio 0), and the per-pair fold is one keyed aggregate — ratios
    are `div` on named columns per the repo's no-float discipline."""
    def side(col, alias):
        return pairs.select(
            *id_cols,
            F.posexplode(F.split(F.col(col), r"\n\n")).alias("pos", alias),
        )

    j = side(text_a_col, "_pa").join(
        side(text_b_col, "_pb"), [*id_cols, "pos"], "full_outer"
    )
    scored = (
        j.withColumn("_la", F.length("_pa").cast("long"))
        .withColumn("_lb", F.length("_pb").cast("long"))
        .withColumn(
            "ratio",
            F.expr(
                "CASE WHEN _la IS NULL OR _lb IS NULL THEN 0 "
                "ELSE 1000 * least(_la, _lb) div greatest(_la, _lb) END"
            ),
        )
    )
    thr = F.lit(min_ratio_milli)
    agg = scored.groupBy(*id_cols).agg(
        F.sum(F.col("_la").isNotNull().cast("long")).alias("n_paras_a"),
        F.sum(F.col("_lb").isNotNull().cast("long")).alias("n_paras_b"),
        F.sum((F.col("ratio") >= thr).cast("long")).alias("n_paras_ok"),
        F.min("ratio").alias("min_ratio_milli"),
    )
    return agg.withColumn(
        "aligned",
        (F.col("n_paras_a") == F.col("n_paras_b"))
        & (F.col("n_paras_ok") == F.col("n_paras_a")),
    )


def ngram_novelty(
    candidates: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    gram_words: int = 2,
    stale_milli: int = 300,
) -> DataFrame:
    """Per-document novelty against the EXISTING corpus: the milli
    fraction of a candidate's distinct word n-grams never seen in any
    already-accepted document. The curation signal between dedup and
    quality scoring — a page can be non-duplicate (no single doc
    matches) yet contribute nothing new (every phrase already covered
    across thousands of docs); data-mixing pipelines downweight or
    drop such low-novelty additions.

    X24 (contamination_check) broadcasts its reference because eval
    benchmarks are tiny. Here the reference IS the corpus, so
    broadcast is off the table: the corpus gram vocabulary is
    distinct-collapsed (map-side-combined aggregate — the heavy
    dedupe happens before any join) and the candidate grams LEFT-join
    it on gram_hash. Both sides shuffle key+flag columns only, the
    ref side is distinct so the join never fans out, and grams are
    near-uniform hashes so there is no hot key. Returns (doc_id,
    n_grams, n_novel, novelty_milli, stale) for every candidate doc
    (docs shorter than one gram shingle to a single partial gram,
    X24's convention, so no candidate ever drops out)."""
    from .dedup import md5h60

    def grams(df: DataFrame) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        idx = F.sequence(
            F.lit(1), F.greatest(F.size(toks) - gram_words + 1, F.lit(1))
        )
        g = F.transform(
            idx,
            lambda i: md5h60(F.array_join(F.slice(toks, i, gram_words), " ")),
        )
        return df.select(
            "doc_id", F.explode(F.array_distinct(g)).alias("gram_hash")
        )

    vocab = (
        grams(corpus).select("gram_hash").distinct().withColumn("_seen", F.lit(1))
    )
    joined = grams(candidates).join(vocab, "gram_hash", "left")
    per_doc = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0)).alias("n_novel"),
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.expr("1000 * n_novel div n_grams").alias("novelty_milli"),
        F.expr(f"1000 * n_novel div n_grams < {int(stale_milli)}").alias(
            "stale"
        ),
    )


def readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade in exact milli-units
    — the classic curation complexity signal next to the Gopher
    structural rules (X88) and bigram fluency (X67): too-simple pages
    are listicles/boilerplate, too-complex ones are often OCR garbage
    or legalese, and mixing corpora by grade band needs a reproducible
    score, which the float formulas don't give across engines.

    Counts are defined relationally so both engines agree exactly:
    words = whitespace-separated tokens; sentences = [.!?]+ runs
    (floored at 1 so punctuation-free synthetic text still scores);
    syllables = [aeiouy]+ vowel GROUPS over the lowercased text — the
    standard cheap approximation, word-boundary-agnostic on purpose so
    one regex count serves both sides. Each formula term scales to
    milli BEFORE its single floor division, so nothing rounds twice:
      fre_milli   = 206835 − (1015·W) div S − (84600·Y) div W
      grade_milli = (390·W) div S + (11800·Y) div W − 15590
    Row-local, zero shuffle, whole-stage codegen end to end."""
    t = F.lower(F.col(text_col))
    words = F.size(F.split(F.trim(t), r"\s+"))
    sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    )
    syll = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[aeiouy]+"), F.lit(0))),
        F.lit(1),
    )
    out = docs.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        syll.cast("long").alias("n_syllables"),
    )
    return out.select(
        "*",
        F.expr(
            "206835 - (1015 * n_words) div n_sentences "
            "- (84600 * n_syllables) div n_words"
        ).alias("fre_milli"),
        F.expr(
            "(390 * n_words) div n_sentences "
            "+ (11800 * n_syllables) div n_words - 15590"
        ).alias("grade_milli"),
    )


def code_detect(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-vs-prose routing: source code mixed into a web corpus needs
    its own pipeline (different dedup granularity, different quality
    rules, its own mixing weight), and the router must be cheap enough
    to run on every document. Four row-local signals, exact integer
    milli-rates (div on NAMED columns per the no-float discipline —
    double division truncated by a cast is not floor division
    cross-engine):

      brace_milli    {}();= characters per 1000 chars
      indent_milli   lines starting with 2+ spaces or a tab, per 1000
                     lines
      keyword_hits   word-bounded def/function/return/import/const/
                     class occurrences (the cross-language core)
      symbol_milli   non-alphanumeric-non-space chars per 1000 chars

    is_code fires on (braces OR indentation) AND (keywords OR
    symbol-heavy) — each branch pinned by planted fixtures. Zero
    shuffle, whole-stage codegen."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    base = docs.select(
        "doc_id",
        F.greatest(F.length(t), F.lit(1)).alias("_n"),
        F.greatest(F.size(lines), F.lit(1)).alias("_nl"),
        F.length(F.regexp_replace(t, r"[^{}();=]", "")).alias("_br"),
        F.size(F.filter(lines, lambda ln: ln.rlike(r"^(  |\t)"))).alias(
            "_ind"
        ),
        F.size(
            F.regexp_extract_all(
                t,
                F.lit(r"\b(def|function|return|import|const|class)\b"),
                F.lit(0),
            )
        ).cast("long").alias("keyword_hits"),
        F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", "")).alias("_sym"),
    )
    scored = base.select(
        "doc_id",
        F.expr("1000 * _br div _n").alias("brace_milli"),
        F.expr("1000 * _ind div _nl").alias("indent_milli"),
        "keyword_hits",
        F.expr("1000 * _sym div _n").alias("symbol_milli"),
    )
    return scored.withColumn(
        "is_code",
        ((F.col("brace_milli") >= 40) | (F.col("indent_milli") >= 300))
        & ((F.col("keyword_hits") >= 2) | (F.col("symbol_milli") >= 150)),
    )


def hashed_linear_score(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
    threshold_micro: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Hashing-trick linear classifier INFERENCE — the fastText-style
    quality filter every modern curation pipeline runs (CCNet's
    Wikipedia-reference classifier, LLaMA's quality screens), expressed
    the way a 100-TB deployment actually ships it: the MODEL IS A
    TABLE (bucket -> weight_micro), broadcast onto hashed token
    features, summed per document in exact integer micro-units. No
    vector UDF, no Python — training happens elsewhere; this is the
    scoring path.

    Features: whitespace tokens hashed to `n_buckets` buckets
    (xxhash64 scale default; md5h60 when `portable` so the oracle
    reproduces bucket ids). Duplicate tokens count with multiplicity
    (term frequency), the standard linear-model semantics. Per doc:
    logit_micro = Σ tf_b · w_b + bias (bucket -1 in the weight table,
    0 when it has no such row),
    accept = logit >= threshold.

    Plan: one token explode -> (doc, bucket, tf) aggregate (map-side
    combined), one BROADCAST join against the ≤n_buckets-row model,
    one doc-keyed sum. The corpus shuffles (doc_id, bucket) pairs
    only."""
    from .dedup import md5h60

    hf = md5h60 if portable else (lambda c: F.pmod(F.xxhash64(c), F.lit(1 << 60)))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda w: w != F.lit(""),
            )
        ).alias("_tok"),
    )
    feats = toks.select(
        "doc_id", F.pmod(hf(F.col("_tok")), F.lit(n_buckets)).alias("bucket")
    ).groupBy("doc_id", "bucket").agg(F.count("*").alias("tf"))
    w = F.broadcast(weights.select("bucket", "weight_micro"))
    scored = (
        feats.join(w, "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("tf") * F.coalesce(F.col("weight_micro"), F.lit(0))
            ).cast("long").alias("_dot")
        )
    )
    # one row whatever the table holds: no bias row means bias 0
    bias = weights.agg(
        F.coalesce(
            F.sum(F.when(F.col("bucket") == -1, F.col("weight_micro"))), F.lit(0)
        ).alias("_bias")
    )
    out = scored.crossJoin(F.broadcast(bias))
    return out.select(
        "doc_id",
        F.expr("_dot + _bias").cast("long").alias("logit_micro"),
        (F.expr("_dot + _bias") >= threshold_micro).alias("accept"),
    )


def fluency_buckets(
    scored: DataFrame,
    score_col: str = "score_micro",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet's signature mixing move: bucket documents into
    head / middle / tail thirds by language-model score (best third =
    head), so downstream sampling can favor fluent text without
    hard-dropping the rest. Works on any per-doc integer score —
    X67's bigram fluency is the in-repo model.

    The global rank is a `cell_rank`. Cell: the negated score
    `quantize`d between global bounds (NULL scores in a last cell of
    their own), sub-split by the `quantize`d id only where every score
    in the cell is equal — a second-key split keeps the order only
    under a single first-key value. So a mass of tied scores spreads
    over id cells instead of one window task. Buckets by integer
    thirds: rank·3 ≤ n → head, ≤ 2n → middle, else tail — exact on
    both engines, no percentile estimation anywhere.

    Output: (id_col, score_col, rank, bucket)."""
    b = scored.agg(
        F.min(score_col).cast("long").alias("_lo"),
        F.max(score_col).cast("long").alias("_hi"),
        F.min(id_col).alias("_ilo"),
        F.max(id_col).alias("_ihi"),
        F.count("*").cast("long").alias("_n"),
    )
    keyed = (
        scored.select(
            F.col(id_col).alias("_id"), F.col(score_col).cast("long").alias("_s")
        )
        .crossJoin(F.broadcast(b))
        .withColumn("_c", F.coalesce(-quantize("_s", "_lo", "_hi"), F.lit(1)))
    )
    flat = keyed.groupBy("_c").agg(F.expr("min(_s) <=> max(_s)").alias("_flat"))
    keyed = keyed.join(F.broadcast(flat), "_c").withColumn(
        "_i", F.when(F.col("_flat"), quantize("_id", "_ilo", "_ihi")).otherwise(0)
    )
    order = [F.col("_s").desc(), F.col("_id").asc()]
    return cell_rank(keyed, ["_c", "_i"], order).select(
        F.col("_id").alias(id_col),
        F.col("_s").alias(score_col),
        F.col("_rank").cast("long").alias("rank"),
        F.when(F.col("rank") * 3 <= F.col("_n"), "head")
        .when(F.col("rank") * 3 <= F.col("_n") * 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
