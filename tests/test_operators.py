"""Training-pipeline operator tests: dedup families, similarity search,
text analysis, multimodal plumbing — verified against brute-force
pandas/numpy oracles on small synthetic inputs plus the real testdata
tables."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oa_spider_spark.kernels.codec import average_hash, decode_image, encode_image
from oa_spider_spark.operators import dedup, multimodal, similarity, text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """documents + planted near-duplicates and exact duplicates."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    rows = d.select("doc_id", "text").collect()
    base = [(r["doc_id"], r["text"]) for r in rows]
    planted = []
    for doc_id, t in base[:10]:
        planted.append((doc_id + 100000, t))  # exact dup
    for doc_id, t in base[10:20]:
        planted.append((doc_id + 200000, t[:-5] + "XYZAB"))  # near dup
    return spark.createDataFrame(base + planted, "doc_id long, text string")


def test_exact_dedup_finds_planted(spark, docs_with_dups):
    out = dedup.exact_dedup(docs_with_dups).filter(F.col("n_copies") > 1)
    assert out.count() == 10
    assert out.agg(F.sum("n_copies")).collect()[0][0] == 20


def test_minhash_lsh_finds_near_dups(spark, docs_with_dups):
    pairs = dedup.minhash_dedup(docs_with_dups, threshold=0.5)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # all 10 exact-dup pairs must be found (jaccard 1.0)
    exact_pairs = {(i, i + 100000) for (i, _t) in _first(docs_with_dups, 10)}
    assert exact_pairs <= found
    # most planted near-dups should be found
    near_pairs = {(i, i + 200000) for (i, _t) in _rows(docs_with_dups, 10, 20)}
    assert len(near_pairs & found) >= 7


def _first(df, n):
    return [(r["doc_id"], r["text"]) for r in df.orderBy("doc_id").limit(n).collect()]


def _rows(df, a, b):
    rows = df.filter(F.col("doc_id") < 100000).orderBy("doc_id").collect()
    return [(r["doc_id"], r["text"]) for r in rows[a:b]]


def test_jaccard_exact_dup_is_one(spark, docs_with_dups):
    sh = dedup.shingles(docs_with_dups)
    sig = dedup.minhash_signatures(sh)
    pairs = dedup.lsh_candidate_pairs(sig)
    j = dedup.jaccard_pairs(pairs, sh)
    exact = j.filter(F.col("doc_b") - F.col("doc_a") == 100000)
    vals = [r["jaccard"] for r in exact.collect()]
    assert vals and all(v == 1.0 for v in vals)


def test_lsh_bucket_cap_drops_degenerate_bucket(spark, docs_with_dups):
    """max_bucket kills the quadratic hot bucket (30 identical docs →
    435 pairs) while small planted near-dup groups keep colliding."""
    clones = spark.createDataFrame(
        [(900000 + i, "the same boilerplate text repeated here") for i in range(30)],
        "doc_id long, text string",
    )
    docs = docs_with_dups.union(clones)
    uncapped = dedup.minhash_dedup(docs, threshold=0.5)
    capped = dedup.minhash_dedup(docs, threshold=0.5, max_bucket=10)
    big = lambda df: df.filter(  # noqa: E731
        (F.col("doc_a") >= 900000) & (F.col("doc_b") >= 900000)
    ).count()
    assert big(uncapped) == 30 * 29 // 2
    assert big(capped) == 0
    # the size-2 planted groups are untouched by the cap
    small_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in capped.filter(F.col("doc_a") < 900000).collect()
    }
    exact_pairs = {(i, i + 100000) for (i, _t) in _first(docs_with_dups, 10)}
    assert exact_pairs <= small_pairs


def test_simhash_and_embedding_caps(spark, docs_with_dups):
    """The shared hot-group guard works on simhash blocks and embedding
    buckets exactly as on LSH band buckets."""
    clones = spark.createDataFrame(
        [(900000 + i, "the same boilerplate text repeated here") for i in range(30)],
        "doc_id long, text string",
    )
    sim = dedup.simhash64(docs_with_dups.union(clones))
    capped = dedup.simhash_near_pairs(sim, max_hamming=3, max_block=10)
    assert capped.filter(
        (F.col("doc_a") >= 900000) & (F.col("doc_b") >= 900000)
    ).count() == 0
    # identical-text planted pairs survive (their block groups are size 2)
    found = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    exact_pairs = {(i, i + 100000) for (i, _t) in _first(docs_with_dups, 10)}
    assert exact_pairs <= found

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]
        + [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.01, 0.0])],
        "vec_id long, embedding array<double>",
    )
    uncapped = dedup.embedding_near_dups(emb, threshold=0.9)
    assert uncapped.filter(F.col("vec_a") < 100).count() == 20 * 19 // 2
    capped_e = dedup.embedding_near_dups(emb, threshold=0.9, max_bucket=5)
    assert capped_e.filter(F.col("vec_a") < 100).count() == 0
    assert capped_e.filter(F.col("vec_a") == 100).count() == 1  # (100,101) kept


def _union_find_labels(edges):
    """Python oracle: component label = min node id, via union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def test_connected_components_structured(spark):
    """Chain, triangle+tail, isolated pair — exact labels."""
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),          # chain → all label 1
        (10, 11), (11, 12), (10, 12), (12, 13),  # triangle + tail → 10
        (20, 21),                                 # pair → 20
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r["doc_id"], r["component_id"])
        for r in dedup.connected_components(df).collect()
    }
    assert got == set(_union_find_labels(edges).items())


def test_connected_components_random_graph(spark):
    """Seeded random graph (200 edges / 120 nodes, mixed direction and
    duplicate edges) vs the union-find oracle — exercises multi-round
    large-star/small-star convergence on long chains."""
    rng = np.random.RandomState(1234)
    edges = [(int(a), int(b)) for a, b in rng.randint(0, 120, size=(200, 2)) if a != b]
    # add one long path to force chain contraction across rounds
    edges += [(1000 + i, 1001 + i) for i in range(40)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r["doc_id"], r["component_id"])
        for r in dedup.connected_components(df).collect()
    }
    assert got == set(_union_find_labels(edges).items())


def test_connected_components_empty(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.connected_components(df).count() == 0


def test_connected_components_self_loop_only_node(spark):
    """A node appearing only in (x, x) pairs still gets an output row
    (labeled itself) — 'every node appearing in pairs' means every node,
    including ones whose every edge is a self-loop."""
    edges = [(1, 2), (7, 7), (2, 2)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r["doc_id"], r["component_id"])
        for r in dedup.connected_components(df).collect()
    }
    assert got == {(1, 1), (2, 1), (7, 7)}


def test_connected_components_releases_round_checkpoints(spark, tmp_path):
    """Rounds are staged to files and round k-1 is deleted as soon as
    round k materializes: after the call only the `labels` directory
    remains under work_dir (raw + every edge round released eagerly),
    and NOTHING is pinned in executor storage — zero persistent RDDs,
    zero private-API release hooks (VERDICT r03 item 6)."""
    def persisted_ids() -> set:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    # long chain → many large-star/small-star rounds
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    before = persisted_ids()
    out = dedup.connected_components(df, work_dir=str(tmp_path))
    assert persisted_ids() - before == set(), "CC must not pin executor storage"
    (wd,) = [p for p in tmp_path.iterdir() if p.name.startswith("cc-")]
    leftover = sorted(p.name for p in wd.iterdir())
    assert leftover == ["labels"], f"round dirs not released eagerly: {leftover}"
    assert out.count() == 201  # result still readable after cleanup


def test_df_unpersist_does_not_release_local_checkpoint(spark):
    """Pins the PySpark behavior that forced connected_components onto
    file-staged rounds: `DataFrame.unpersist()` (the only public release
    API) does NOT drop a localCheckpoint's pinned RDD. The day a Spark
    upgrade makes this assert fail, localCheckpoint + public unpersist
    becomes the cheaper lineage-truncation path — switch back."""
    sc = spark.sparkContext

    def persisted_ids() -> set:
        m = sc._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    before = persisted_ids()
    e = spark.range(100).selectExpr("id u", "id+1 v").localCheckpoint(eager=True)
    pinned = persisted_ids() - before
    assert pinned, "localCheckpoint should pin an RDD"
    e.unpersist(blocking=True)
    assert persisted_ids() & pinned == pinned, (
        "public unpersist NOW releases localCheckpoints — revisit "
        "connected_components' file staging"
    )


def test_cap_groups_defuses_degenerate_lsh_bucket(spark):
    """Hot-bucket guard under the worst case: k identical docs collapse
    into ONE LSH bucket in every band — k²/2 candidate pairs in a single
    task without the guard. `max_bucket` drops the degenerate bucket
    entirely (correct for dedup: a bucket that big is boilerplate to
    handle by exact-hash dedup, not pairwise LSH) while buckets within
    the cap keep their pairs."""
    k = 200
    degenerate = [(i, "exact same boilerplate text every time") for i in range(k)]
    normal = [
        (1000, "a perfectly normal document about spark engines"),
        (1001, "a perfectly normal document about spark engines!"),
        (2000, "something else entirely different in content"),
    ]
    docs = spark.createDataFrame(degenerate + normal, "doc_id long, text string")
    unguarded = dedup.minhash_dedup(docs, threshold=0.8)
    n_un = unguarded.filter((F.col("doc_a") < 1000) & (F.col("doc_b") < 1000)).count()
    assert n_un == k * (k - 1) // 2  # the quadratic blowup is real
    guarded = dedup.minhash_dedup(docs, threshold=0.8, max_bucket=16)
    got = {(r["doc_a"], r["doc_b"]) for r in guarded.collect()}
    assert not any(a < 1000 and b < 1000 for a, b in got)  # bucket dropped
    assert (1000, 1001) in got  # small buckets unaffected


def test_simhash_near_pairs(spark, docs_with_dups):
    sim = dedup.simhash64(docs_with_dups)
    pairs = dedup.simhash_near_pairs(sim, max_hamming=3)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    exact_pairs = {(i, i + 100000) for (i, _t) in _first(docs_with_dups, 10)}
    assert exact_pairs <= found  # identical text -> hamming 0


def test_simhash64_matches_numpy_oracle(spark):
    import zlib

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    # independent oracle via Spark's own xxhash64 of tokens
    tok_h = {
        r["token"]: r["h"]
        for r in spark.createDataFrame(
            [("alpha",), ("beta",), ("gamma",), ("delta",)], ["token"]
        ).select("token", F.xxhash64("token").alias("h")).collect()
    }

    def oracle(tokens):
        v = np.zeros(64)
        for t in tokens:
            h = np.uint64(np.int64(tok_h[t]))
            for b in range(64):
                v[b] += 1 if (int(h) >> b) & 1 else -1
        fp = 0
        for b in range(64):
            if v[b] > 0:
                fp |= 1 << b
        return np.int64(np.uint64(fp))

    assert out[1] == oracle(["alpha", "beta", "gamma"])
    assert out[2] == oracle(["alpha", "beta", "delta"])


def test_embedding_near_dups_planted(spark):
    rng = np.random.RandomState(5)
    base = rng.normal(size=(30, 16))
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(30)]
    # plant: 100 ~= 0 with small noise
    rows.append((100, [float(x) for x in base[0] + rng.normal(scale=0.01, size=16)], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = dedup.embedding_near_dups(emb, threshold=0.95)
    found = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert (0, 100) in found


def test_brute_force_topk_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    probe = vecs[0]
    sims = vecs @ probe / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(probe))
    order = np.lexsort((ids, -sims))[:10]
    expected = [int(ids[i]) for i in order]
    got = [
        r["vec_id"]
        for r in similarity.brute_force_topk(
            emb.withColumn("embedding", F.col("embedding").cast("array<double>")),
            [float(x) for x in probe], 10
        ).orderBy("rank").collect()
    ]
    assert got == expected


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    probe = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    cents = similarity.train_centroids(emb, n_cells=8, iters=2)
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, probe, 10).collect()}
    approx = {r["vec_id"] for r in similarity.ivf_topk(emb, probe, cents, 10, n_probe=4).collect()}
    assert len(exact & approx) >= 6  # recall@10 >= 0.6 with half the cells probed


def test_text_operators_run_and_agree_with_pandas(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    pdf = docs.toPandas()
    ts = {r["doc_id"]: r for r in text.token_stats(docs).collect()}
    for _, row in pdf.iterrows():
        assert ts[row["doc_id"]]["n_tokens"] == len(row["text"].strip().split())
    qs = text.quality_score(docs)
    assert qs.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0
    li = text.lang_id(docs)
    assert li.filter(F.col("pred_lang").isNull()).count() == 0
    fp = text.fingerprint(docs)
    assert fp.filter(F.col("fingerprint").isNull()).count() == 0
    # fingerprint is shift-robust: prefixing text doesn't change min-gram
    # for most docs (rolling min over mostly-same grams) — just smoke here


@pytest.fixture(scope="module")
def images_df(spark):
    from oa_spider_spark import datagen

    rows = []
    for i in range(40):
        arr = datagen.synth_image(1000 + i)
        fmt = "png" if i % 2 == 0 else "jpeg"
        rows.append(
            (f"img{i:03d}", bytearray(encode_image(arr, fmt)), arr.shape[1], arr.shape[0],
             fmt, f"caption {i}", average_hash(arr))
        )
    # plant a near-identical pair: img900 = img000 re-encoded lossily
    arr0 = datagen.synth_image(1000)
    rows.append(("img900", bytearray(encode_image(arr0, "jpeg")), arr0.shape[1],
                 arr0.shape[0], "jpeg", "caption 900", average_hash(decode_image(encode_image(arr0, "jpeg")))))
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )


def test_decode_stats_invariants(spark, images_df):
    out = multimodal.decode_stats(images_df)
    rows = out.collect()
    assert len(rows) == images_df.count()
    assert all(r["decode_ok"] for r in rows)
    assert all(r["reencode_psnr"] >= 40.0 for r in rows)
    dims = {r["image_id"]: (r["dec_w"], r["dec_h"]) for r in rows}
    for r in images_df.select("image_id", "w", "h").collect():
        assert dims[r["image_id"]] == (r["w"], r["h"])


def test_decode_stats_bad_payload_flagged(spark):
    bad = spark.createDataFrame(
        [("badimg", bytearray(b"not an image"), 0, 0, "png", "x", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long",
    )
    rows = multimodal.decode_stats(bad).collect()
    assert rows[0]["decode_ok"] is False


def test_captcha_solve_batch(spark):
    from oa_spider_spark.kernels.image_ops import digit_templates, render_captcha

    t = digit_templates()
    rng = np.random.RandomState(9)
    codes = ["1234", "9870", "5566"]
    rows = [
        (f"c{i}", bytearray(encode_image(render_captcha(c, t, noise=4, rng=rng), "png")))
        for i, c in enumerate(codes)
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    out = {r["image_id"]: r["code"] for r in multimodal.captcha_solve(df).collect()}
    assert out == {"c0": "1234", "c1": "9870", "c2": "5566"}


def test_resize_images(spark, images_df):
    out = multimodal.resize_images(images_df, 16, 16)
    rows = out.collect()
    for r in rows:
        arr = decode_image(bytes(r["bytes"]))
        assert arr.shape == (16, 16)


def test_frame_sample_plumbing(spark):
    from oa_spider_spark import datagen

    frames = [datagen.synth_image(7000 + i) for i in range(10)]
    payload = multimodal.synth_video_bytes(frames)
    df = spark.createDataFrame(
        [("vid0", bytearray(payload))], "image_id string, bytes binary"
    )
    out = multimodal.frame_sample(df, every_n=4).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in out] == [0, 4, 8]
    assert np.array_equal(decode_image(bytes(out[0]["frame_bytes"])), frames[0])


def test_phash_hamming_pairs_finds_reencode(spark, images_df):
    out = multimodal.phash_hamming_pairs(images_df, max_hamming=6)
    found = {(r["img_a"], r["img_b"]) for r in out.collect()}
    assert ("img000", "img900") in found


def test_phash_blocking_sound_for_requested_radius(spark):
    """VERDICT r02 item 3: the old fixed 4×16 blocking silently missed a
    pair whose differing bits spread across all four 16-bit blocks.
    Plant exactly that pair (distance 5: bits 0, 16, 32, 48, 1) and
    assert the k+1-block candidate gen recovers it at radius 5-6, plus
    a full brute-force recall check across several radii."""
    import itertools

    base = 0x0123_4567_89AB_CDEF
    spread5 = base ^ ((1 << 0) | (1 << 16) | (1 << 32) | (1 << 48) | (1 << 1))
    phs = {
        "p_base": base,
        "p_spread5": spread5,          # dist 5 from base, 1-2 bits per old block
        "p_d1": base ^ (1 << 63),      # dist 1
        "p_d4": base ^ 0b1111,         # dist 4, all in one block
        "p_far": ~base & 0x7FFF_FFFF_FFFF_FFFF,
        "p_neg": -(1 << 62) | 0x55,    # negative long: shiftrightunsigned path
    }

    def to_long(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    df = spark.createDataFrame(
        [(k, to_long(v)) for k, v in phs.items()], "image_id string, phash long"
    )
    for radius in (1, 3, 5, 6, 10):
        got = {
            (r["img_a"], r["img_b"], r["hamming"])
            for r in multimodal.phash_hamming_pairs(df, max_hamming=radius).collect()
        }
        want = set()
        for a, b in itertools.combinations(sorted(phs), 2):
            d = bin((phs[a] ^ phs[b]) & 0xFFFF_FFFF_FFFF_FFFF).count("1")
            if d <= radius:
                want.add((a, b, d))
        assert got == want, f"radius {radius}: {got ^ want}"
    # the r02 regression specifically: spread5 pair present at its distance
    got6 = {
        (r["img_a"], r["img_b"])
        for r in multimodal.phash_hamming_pairs(df, max_hamming=5).collect()
    }
    assert ("p_base", "p_spread5") in got6


def test_simhash_blocking_sound_beyond_default_radius(spark):
    """Same pigeonhole fix for simhash_near_pairs: radius > 3 must not
    silently miss pairs whose differing bits spread across the old
    4×16 blocks."""
    from oa_spider_spark.operators.dedup import simhash_near_pairs

    base = 0x0FED_CBA9_8765_4321
    spread5 = base ^ ((1 << 2) | (1 << 17) | (1 << 33) | (1 << 49) | (1 << 3))
    df = spark.createDataFrame(
        [("a", base), ("b", spread5)], "doc_id string, simhash long"
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_pairs(df, max_hamming=5).collect()
    }
    assert got == {("a", "b", 5)}


def test_decode_text_gbk_roundtrip(spark):
    from oa_spider_spark.operators.multimodal import decode_text

    texts = ["通知文件公告", "会议培训报告", "第3号批复函"]
    df = spark.createDataFrame(
        [(i, bytearray(t.encode("gbk"))) for i, t in enumerate(texts)]
        + [(99, bytearray(b"\xff\xfe\x81"))],  # undecodable -> NULL
        "doc_id int, body binary",
    )
    rows = {r["doc_id"]: r["text"] for r in decode_text(df, "GBK").collect()}
    assert [rows[i] for i in range(3)] == texts
    assert rows[99] is None


def test_similarity_arrow_jvm_paths_agree(spark):
    """The Arrow-batch scoring path (broadcast numpy, used past the
    literal budget / at production dims) must produce the same results as
    the JVM literal-expression path on identical inputs."""
    rng = np.random.RandomState(11)
    base = rng.normal(size=(40, 16))
    rows = [(i, [float(x) for x in base[i]], i % 3) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    probe = [float(x) for x in base[0]]

    jvm = similarity.brute_force_topk(emb, probe, 10, method="jvm").orderBy("rank").collect()
    arr = similarity.brute_force_topk(emb, probe, 10, method="arrow").orderBy("rank").collect()
    assert [r["vec_id"] for r in jvm] == [r["vec_id"] for r in arr]
    assert all(abs(a["cos_sim"] - b["cos_sim"]) < 1e-9 for a, b in zip(jvm, arr))

    cents = base[:4].copy()
    cj = {r["vec_id"]: r["cell"] for r in similarity.assign_cells(emb, cents, "jvm").collect()}
    ca = {r["vec_id"]: r["cell"] for r in similarity.assign_cells(emb, cents, "arrow").collect()}
    assert cj == ca

    pj = {(r["vec_a"], r["vec_b"]) for r in dedup.embedding_near_dups(emb, 0.9, method="jvm").collect()}
    pa = {(r["vec_a"], r["vec_b"]) for r in dedup.embedding_near_dups(emb, 0.9, method="arrow").collect()}
    assert pj == pa


def test_similarity_high_dim_arrow_no_blowup(spark):
    """dim=768 / n_cells=64: 'auto' must route to Arrow (49k literals
    would be a Catalyst expression bomb) and still match numpy exactly,
    and embedding_near_dups must recover a planted cosine-1.0 dup."""
    dim, n = 768, 60
    rng = np.random.RandomState(23)
    base = rng.normal(size=(n, dim))
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(n)]
    rows.append((1000, [float(x) for x in base[3] * 1.001], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    assert similarity._use_arrow(dim, "auto") is False  # probe vec alone: small
    assert similarity._use_arrow(64 * dim, "auto") is True  # centroid matrix: arrow

    probe = [float(x) for x in base[0]]
    vecs = np.vstack([base, base[3] * 1.001])
    ids = np.array(list(range(n)) + [1000])
    sims = vecs @ np.asarray(probe) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(probe))
    order = np.lexsort((ids, -sims))[:5]
    expected = [int(ids[i]) for i in order]
    got = [r["vec_id"] for r in similarity.brute_force_topk(emb, probe, 5, method="arrow").orderBy("rank").collect()]
    assert got == expected

    cents = similarity.train_centroids(emb, n_cells=8, iters=1, method="arrow")
    assert cents.shape == (8, dim)

    found = {(r["vec_a"], r["vec_b"]) for r in dedup.embedding_near_dups(emb, 0.99, n_planes=12, method="arrow").collect()}
    assert (3, 1000) in found


def test_audio_stats_match_numpy_twin(spark):
    """AUD0 decode: header fields exact, rms/peak equal a numpy
    recomputation of the same quantized sine."""
    from oa_spider_spark.operators.multimodal import audio_stats, synth_audio_bytes

    rows = [(f"aud{i:03d}", bytearray(synth_audio_bytes(i))) for i in (0, 1, 5, 12)]
    df = spark.createDataFrame(rows, "audio_id string, bytes binary")
    got = {r["audio_id"]: r for r in audio_stats(df).collect()}
    for i in (0, 1, 5, 12):
        n = 16000 * (1 + i % 3) + i * 7
        freq, amp = 200 + (i * 37) % 1800, 8000 + (i % 8) * 2000
        t = np.arange(n, dtype=np.float64)
        pcm = np.round(amp * np.sin(2 * np.pi * freq * t / 16000)).astype("<i2").astype(np.float64)
        r = got[f"aud{i:03d}"]
        assert (r["sample_rate"], r["n_samples"]) == (16000, n)
        assert r["duration_ms"] == n * 1000 // 16000
        assert r["rms"] == int(np.sqrt(np.mean(pcm * pcm)))
        assert r["peak"] == int(np.max(np.abs(pcm)))


def test_audio_stats_rejects_real_formats(spark):
    from oa_spider_spark.operators.multimodal import audio_stats

    df = spark.createDataFrame(
        [("x", bytearray(b"RIFF....WAVE"))], "audio_id string, bytes binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|AUD0|unavailable"):
        audio_stats(df).collect()


def test_extract_links_preserves_int32_key_type(spark):
    """Code-review r02: extract_links rebuilt key columns via pa.array()
    type inference, crashing the JVM accessor on non-int64 keys."""
    from oa_spider_spark.operators.html import extract_links

    df = spark.createDataFrame(
        [(7, '<ul class="ul1"><li><a href="/doc/7-0">card</a></li></ul>')],
        "doc_id int, page string",
    )
    rows = extract_links(df, "page", ".ul1 li a").collect()
    assert [(r["doc_id"], r["href"], r["name"]) for r in rows] == [(7, "/doc/7-0", "card")]


def test_selector_combined_tag_id_class_both_orders():
    """Code-review r02: 'tag#id.class' absorbed '.class' into the id."""
    from oa_spider_spark.operators.html import parse_html, select

    root = parse_html('<div id="main" class="active"><p>x</p></div><div id="main2"></div>')
    for sel in ("div#main.active", "div.active#main", "#main.active"):
        hits = select(root, sel)
        assert len(hits) == 1 and hits[0].attrs.get("id") == "main", sel
    assert select(root, "div#main2.active") == []


def test_minhash_portable_seed_gives_distinct_families(spark):
    """Code-review r02: portable mode ignored `seed` — distinct seeds must
    yield distinct signature families in BOTH modes."""
    from oa_spider_spark.operators.dedup import minhash_signatures, shingles

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    sh = shingles(docs, portable=True)
    a = minhash_signatures(sh, n_hashes=8, seed=42, portable=True).collect()[0]["sig"]
    b = minhash_signatures(sh, n_hashes=8, seed=7, portable=True).collect()[0]["sig"]
    assert a != b


def test_incremental_near_dups_matches_batch_cross_pairs(spark):
    """The new-vs-corpus probe must flag exactly the new docs that a
    full-corpus minhash_dedup connects across the split (same banding,
    same threshold), and every dup_of must itself verify at >= t."""
    from oa_spider_spark.operators.dedup import (
        incremental_near_dups,
        minhash_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    out = incremental_near_dups(new, corpus, threshold=0.8, portable=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == new.count()  # one disposition row per new doc

    all_pairs = minhash_dedup(docs, threshold=0.8, portable=True).collect()
    cross_flagged = set()
    best = {}
    for r in all_pairs:
        for n_id, c_id in ((r["doc_a"], r["doc_b"]), (r["doc_b"], r["doc_a"])):
            if n_id % 5 == 0 and c_id % 5 != 0:
                cross_flagged.add(n_id)
                cur = best.get(n_id)
                cand = (-r["jaccard"], c_id)
                if cur is None or cand < cur:
                    best[n_id] = cand
    got_flagged = {d for d, r in rows.items() if r["dup_of"] is not None}
    assert got_flagged == cross_flagged
    for d in got_flagged:
        assert rows[d]["dup_of"] == best[d][1], (d, rows[d], best[d])
        assert rows[d]["jaccard"] >= 0.8


def test_incremental_near_dups_plan_no_cartesian(spark):
    from oa_spider_spark.queries_pipeline import q_incremental_dedup

    plan = (
        q_incremental_dedup(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, plan


def test_incremental_near_dups_precomputed_index_identical(spark):
    """The persisted-index deployment path (build_corpus_index once,
    pass corpus_index per batch) must dispose every new doc identically
    to the inline one-shot path — same flags, same dup_of, same jaccard."""
    from oa_spider_spark.operators.dedup import (
        build_corpus_index,
        incremental_near_dups,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    inline = incremental_near_dups(new, corpus, threshold=0.8, portable=True)
    idx = build_corpus_index(corpus, portable=True)
    via_index = incremental_near_dups(
        new, corpus_index=idx, threshold=0.8, portable=True
    )
    key = lambda r: (r["doc_id"], r["dup_of"], r["jaccard"])
    assert sorted(map(key, inline.collect())) == sorted(
        map(key, via_index.collect())
    )


def test_triangle_count_ground_truth_and_orientation(spark):
    """Known graph: K4 on {1,2,3,4} (4 triangles) + a pendant edge and a
    path that closes no triangle. Also pins the hub-safety property the
    degree orientation exists for: each node's ORIENTED out-degree stays
    ≤ √(2m)-ish even though node 1 is a hub in the undirected graph."""
    from oa_spider_spark.operators.graph import triangle_count

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    extra = [(1, 5), (5, 6), (1, 7), (1, 8), (1, 9)]  # hub 1, no new triangles
    edges = spark.createDataFrame(k4 + extra, "u long, v long")
    row = triangle_count(edges).head()
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (9, 11, 4)


def test_cooccurrence_edges_cap_drops_hub_group(spark):
    """A blocking group over the cap contributes NO edges (same policy
    as the LSH max_bucket guard); small groups pair normally."""
    from oa_spider_spark.operators.graph import cooccurrence_edges

    rows = [("hub", 0, i) for i in range(50)] + [
        ("ok", 0, 1), ("ok", 0, 2), ("ok", 0, 3)
    ]
    ev = spark.createDataFrame(rows, "event_type string, tb int, user_id long")
    edges = cooccurrence_edges(
        ev, node_col="user_id", group_cols=("event_type", "tb"), cap=10
    ).collect()
    got = {(r["u"], r["v"]) for r in edges}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_edit1_pairs_matches_brute_force(spark):
    """Deletion-neighborhood blocking finds EXACTLY the brute-force
    Levenshtein ≤ 1 pairs (substitution, insertion, deletion, equality
    cases all present; distance-2 decoys excluded)."""
    rows = [
        (1, "spark"), (2, "spork"),   # substitution
        (3, "spar"),                  # deletion of 1
        (4, "sparks"),                # insertion on 1
        (5, "spark"),                 # exact dup of 1
        (6, "scala"),                 # far from everything
        (7, "spoke"),                 # dist 2 from spork — decoy
    ]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in dedup.edit1_pairs(df, cap=None).collect()
    }
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b, lev(ta, tb))
        for (a, ta), (b, tb) in itertools.combinations(rows, 2)
        if lev(ta, tb) <= 1
    }
    assert got == want and (1, 5, 0) in got and (2, 7) not in {
        (x, y) for x, y, _ in got
    }


def test_knn_classify_majority_and_ties(spark):
    """Hand-built geometry: queries sit on cluster axes, labels follow
    the 3-of-5 majority; a constructed exact tie resolves to the
    smaller label."""
    from oa_spider_spark.operators.similarity import knn_classify

    def v(x, y):
        return [float(x), float(y)]

    cands = spark.createDataFrame(
        [
            # 3 candidates near +x labeled 1, 2 near +y labeled 2
            (10, v(1.0, 0.05), 1), (11, v(1.0, -0.05), 1), (12, v(0.9, 0.1), 1),
            (13, v(0.05, 1.0), 2), (14, v(-0.05, 1.0), 2),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [
            (0, v(1.0, 0.0), 1),     # +x → majority label 1
            (1, v(0.0, 1.0), 2),     # +y → 2 votes label 2 vs 3 label 1? k=3 below
        ],
        "vec_id long, embedding array<double>, label int",
    )
    out = {r["query_id"]: r for r in knn_classify(cands, queries, k=3).collect()}
    assert out[0]["pred_label"] == 1 and out[0]["votes"] == 3 and out[0]["correct"]
    # +y query's 3-NN = two label-2 (closest) + one label-1 → majority 2
    assert out[1]["pred_label"] == 2 and out[1]["votes"] == 2
    # tie case: k=4 on query 1 → 2 votes each; smaller label (1) wins
    tie = {r["query_id"]: r for r in knn_classify(cands, queries, k=4).collect()}
    assert tie[1]["votes"] == 2 and tie[1]["pred_label"] == 1


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The IVF scale story made physical: writing the cell assignment as
    a partition column means the n_probe cell filter becomes PARTITION
    pruning — the scan lists only the probed cells' directories. Pinned
    on the executed plan's PartitionFilters + selected-partition count."""
    import numpy as np

    from oa_spider_spark.operators.similarity import assign_cells, train_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = train_centroids(emb, n_cells=8, iters=2)
    path = str(tmp_path / "ivf")
    assign_cells(emb, cents).write.partitionBy("cell").parquet(path)
    idx = spark.read.parquet(path)
    probe_cells = [0, 3]
    candidates = idx.filter(F.col("cell").isin(probe_cells))
    # collect() (not count(), which builds a DIFFERENT plan) so the
    # metrics below come from THIS handle's executed QueryExecution
    n = len(candidates.collect())
    plan = candidates._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan
    exact = {r["cell"] for r in candidates.select("cell").distinct().collect()}
    assert exact <= set(probe_cells) and n > 0
    # physical check: the executed scan's own numFiles metric — pruning
    # means the scan LISTED only the probed cells' files, strictly fewer
    # than the on-disk total (a post-scan filter would read all of them)
    import glob

    scan = candidates._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_read = scan.metrics().apply("numFiles").value()
    n_disk = len(glob.glob(f"{path}/cell=*/*.parquet"))
    n_probed = len(
        sum((glob.glob(f"{path}/cell={c}/*.parquet") for c in probe_cells), [])
    )
    assert n_read == n_probed, (n_read, n_probed)
    assert n_read < n_disk, (n_read, n_disk)


def test_paragraph_dedup_drops_boilerplate_keeps_order(spark):
    """X81: paragraphs repeating corpus-wide beyond max_df are scrubbed;
    survivors reassemble in original positional order; a doc of pure
    boilerplate collapses to the empty string."""
    from oa_spider_spark.operators.text import paragraph_dedup

    rows = []
    # 4 docs share the same header/footer; unique bodies differ
    for i in range(4):
        rows.append((i, ["SHARED HEADER", f"body {i} alpha", f"body {i} beta",
                         "SHARED FOOTER"]))
    rows.append((99, ["SHARED HEADER", "SHARED FOOTER"]))  # all boilerplate
    df = spark.createDataFrame(rows, "doc_id long, paras array<string>")
    out = {r["doc_id"]: r for r in paragraph_dedup(df, "paras", max_df=3).collect()}
    assert out[0]["clean_text"] == "body 0 alpha\nbody 0 beta"
    assert out[0]["n_kept"] == 2 and out[0]["n_dropped"] == 2
    assert out[99]["clean_text"] == "" and out[99]["n_kept"] == 0
    # below the threshold nothing is dropped
    out_loose = {
        r["doc_id"]: r for r in paragraph_dedup(df, "paras", max_df=5).collect()
    }
    assert out_loose[0]["n_dropped"] == 0
    assert out_loose[0]["clean_text"].startswith("SHARED HEADER\n")


def test_prefix_jaccard_exact_vs_brute_force(spark):
    """X83: the prefix filter must be EXACT — identical pair set to a
    Python brute force over bigram-shingle sets, at two thresholds,
    on random word soup engineered to sit near the boundary."""
    import itertools
    import random

    from oa_spider_spark.operators.dedup import prefix_jaccard_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(36):
        n = rng.randint(2, 30)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted exact dup + near dup
    rows.append((100, rows[0][1]))
    rows.append((101, rows[1][1] + " w0 w1"))

    def shingles(text):
        w = text.split(" ")
        return {f"{a} {b}" for a, b in zip(w, w[1:])}

    for t_milli in (500, 800):
        want = set()
        for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
            sa, sb = shingles(ta), shingles(tb)
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            union = len(sa | sb)
            if 1000 * inter >= t_milli * union:
                want.add((min(ia, ib), max(ia, ib)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["da"], r["db"])
            for r in prefix_jaccard_pairs(df, t_milli=t_milli).collect()
        }
        assert got == want, f"t={t_milli}: {got ^ want}"
        assert (100 not in {a for a, _ in got}) or (0, 100) in got


def test_sorted_neighborhood_matches_plain_window_rank(spark):
    """SNM (X85): the two-level cell rank + block join finds EXACTLY the
    pairs a plain global ROW_NUMBER + rank-distance brute force finds —
    including ties (identical keys fall back to id order), a hot shared
    prefix (many rows in one (_b,_s) cell), empty/normalized-away keys,
    and cross-block neighbors (the {g, g-1} duplication)."""
    rows = (
        [(i, "the quick brown fox %02d" % i) for i in range(20)]  # hot cell
        + [(100, "THE QUICK!! brown fox 03"),  # normalizes near the above
           (101, ""), (102, "!!!"), (103, None),  # empty/degenerate keys
           (200, "zebra zone"), (201, "zebra cone")]  # isolated tail cell
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    window, max_dist, key_len = 5, 4, 32
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in dedup.sorted_neighborhood_pairs(
            df, window=window, max_dist=max_dist, key_len=key_len
        ).collect()
    }

    import re

    def norm(t):
        return re.sub(r"[^a-z0-9 ]", "", (t or "").lower())[:key_len]

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    ordered = sorted(((norm(t), i) for i, t in rows))
    want = set()
    for x in range(len(ordered)):
        for y in range(x + 1, min(x + window, len(ordered))):
            d = lev(ordered[x][0], ordered[y][0])
            if d <= max_dist:
                want.add((ordered[x][1], ordered[y][1], d))
    assert got == want
    assert any(a == 101 or b == 101 for a, b, _ in got)  # empty keys pair up


def test_registrable_domain_longest_suffix_and_edges(spark):
    """X86: eTLD+1 by longest-suffix match — the multi-label suffix wins
    over its own tail (x.demo.github.io -> demo.github.io, not
    x.demo.github.io via bare "io"); hosts that ARE a public suffix,
    dotless hosts, and unmatched TLDs map to themselves."""
    from oa_spider_spark.frontier.canon import PSL_SUBSET, registrable_domain

    hosts = [
        ("a.b.example.co.uk", "example.co.uk"),   # 2-label suffix, deep subdomain
        ("www.example.org", "example.org"),       # 1-label suffix
        ("demo.github.io", "demo.github.io"),     # github.io beats io
        ("x.demo.github.io", "demo.github.io"),   # ... at any depth
        ("github.io", "github.io"),               # host IS a public suffix
        ("localhost", "localhost"),               # dotless
        ("weird.unknowntld", "weird.unknowntld"), # no suffix match at all
        ("co.uk", "co.uk"),                       # 2-label public suffix itself
    ]
    df = spark.createDataFrame([(h,) for h, _ in hosts], "host string")
    suffixes = spark.createDataFrame([(s,) for s in PSL_SUBSET], "sfx string")
    got = {
        r["host"]: r["domain"]
        for r in registrable_domain("host", suffixes)(df).collect()
    }
    assert got == dict(hosts)


def test_sniff_content_type_precedence_and_edges(spark):
    """X90: magic-byte sniff — real JPEG (FFD8FF) and the FJPG stand-in
    both map to image/jpeg, gzip beats the '<' rule, and payloads
    SHORTER than a signature fall through without error (substring past
    the end is not a match, never an exception)."""
    from oa_spider_spark.operators.multimodal import sniff_content_type

    rows = [
        ("png", "image/png", bytearray(b"\x89PNG\r\n\x1a\n" + b"x" * 8)),
        ("fjpg", "image/jpeg", bytearray(b"FJPGrest")),
        ("realjpg", "image/jpeg", bytearray(b"\xff\xd8\xff\xe0junk")),
        ("aud", "audio/aud0", bytearray(b"AUD0" + b"\x00" * 8)),
        ("gz", "application/gzip", bytearray(b"\x1f\x8b\x08\x00")),
        ("html", "text/html", bytearray(b"<!DOCTYPE html>")),
        ("short", "application/octet-stream", bytearray(b"\x89P")),  # truncated PNG sig
        ("empty", "application/octet-stream", bytearray(b"")),
        ("lie", "image/png", bytearray(b"<html>")),
    ]
    df = spark.createDataFrame(rows, "payload_id string, claimed_type string, bytes binary")
    got = {
        r["payload_id"]: (r["detected_type"], r["mismatch"])
        for r in sniff_content_type(df).collect()
    }
    assert got["png"] == ("image/png", 0)
    assert got["fjpg"] == ("image/jpeg", 0)
    assert got["realjpg"] == ("image/jpeg", 0)
    assert got["aud"] == ("audio/aud0", 0)
    assert got["gz"] == ("application/gzip", 0)
    assert got["html"] == ("text/html", 0)
    assert got["short"] == ("application/octet-stream", 0)
    assert got["empty"] == ("application/octet-stream", 0)
    assert got["lie"] == ("text/html", 1)


def test_containment_pairs_asymmetric(spark):
    """Quote (exact prefix of parent) has containment 1000 while the
    parent-side fraction is 333 — the pair symmetric Jaccard misses;
    unrelated docs yield nothing; capping a 3-doc shingle drops it from
    `shared` but not from the sizes."""
    from oa_spider_spark.operators.dedup import containment_pairs

    rows = [
        (1, "AAAA BBBB CCCC DDDD"),
        (2, "AAAA BBBB"),
        (3, "XXXX YYYY"),
        (4, "AAAA ZZZZ"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (
            r.shared, r.n_a, r.n_b, r.cont_a_milli, r.cont_b_milli, r.direction
        )
        for r in containment_pairs(
            df, k=5, min_shared=2, min_containment_milli=800
        ).collect()
    }
    assert got == {(1, 2): (5, 15, 5, 333, 1000, "b_in_a")}
    # cap=2: 'AAAA ' sits on docs 1,2,4 -> capped out of the join; the
    # (1,2) overlap drops to 4 and cont_b to exactly the 800 threshold.
    capped = {
        (r.doc_a, r.doc_b): (r.shared, r.cont_b_milli)
        for r in containment_pairs(
            df, k=5, min_shared=2, min_containment_milli=800, cap=2
        ).collect()
    }
    assert capped == {(1, 2): (4, 800)}


def test_gopher_rules_bitmask(spark):
    """X101: each rule trips its own bit on a hand fixture; keep = mask 0."""
    from oa_spider_spark.operators.text import gopher_rules

    rows = [
        (1, "the cat sat on the mat with a hat and a bat"),  # clean
        (2, "zz xx yy"),                                  # short + no stopword
        (3, "- the one\n- two three\n- four five"),       # every line a bullet
        (4, "the end is near..."),                        # ellipsis line
        (5, "## ## ## the x"),                            # symbols + low alpha
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.fail_mask, r.keep)
        for r in gopher_rules(
            df,
            min_words=4,
            max_words=100,
            min_word_len_milli=2000,
            max_word_len_milli=10_000,
            max_symbol_milli=300,
            min_alpha_milli=500,
            max_bullet_milli=500,
            max_ellipsis_milli=500,
            min_stop_hits=1,
        ).collect()
    }
    assert out == {
        1: (0, True),
        2: (1 + 64, False),   # word count + stopwords
        3: (16, False),       # bullets
        4: (32, False),       # ellipsis
        5: (4 + 8, False),    # symbols + alpha
    }


def test_repeated_ngram_spans(spark):
    """X102: counts and 0-based span endpoints; short docs vanish; n is
    generic (the zip_with fold, not a hardcoded trigram)."""
    from oa_spider_spark.operators.text import repeated_ngram_spans

    df = spark.createDataFrame(
        [(1, "a b c a b c a b"), (2, "x y z w"), (3, "p q")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.ngram): (r.n_occurrences, r.first_pos, r.last_pos)
        for r in repeated_ngram_spans(df, n=3).collect()
    }
    assert got == {
        (1, "a b c"): (2, 0, 3),
        (1, "b c a"): (2, 1, 4),
        (1, "c a b"): (2, 2, 5),
    }
    bi = {
        (r.doc_id, r.ngram): (r.n_occurrences, r.first_pos, r.last_pos)
        for r in repeated_ngram_spans(
            spark.createDataFrame([(9, "a a a")], "doc_id long, text string"),
            n=2,
        ).collect()
    }
    assert bi == {(9, "a a"): (2, 0, 1)}


def test_dedup_audit_contingency(spark):
    """X105: hand-checkable pair contingency — TP/FP/FN and milli ratios."""
    from oa_spider_spark.operators.dedup import dedup_audit

    truth = spark.createDataFrame(
        [(i, 1 if i <= 3 else 2) for i in range(1, 7)],
        "doc_id long, truth_id long",
    )
    assign = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20), (5, 30), (6, 30)],
        "doc_id long, cluster_id long",
    )
    r = dedup_audit(assign, truth).collect()[0]
    assert (r.n_docs, r.n_clusters, r.n_truth) == (6, 3, 2)
    assert (r.tp_pairs, r.pred_pairs, r.true_pairs) == (2, 3, 6)
    assert (r.fp_pairs, r.fn_pairs) == (1, 4)
    assert (r.precision_milli, r.recall_milli) == (666, 333)


def test_cross_doc_spans_diagonal_runs(spark):
    """X108: a shared 4-token run survives; a single shared trigram
    (run 3 < min 4) is filtered; disjoint docs produce nothing."""
    from oa_spider_spark.operators.dedup import cross_doc_spans

    df = spark.createDataFrame(
        [
            (1, "x p q r s y"),
            (2, "z p q r s w"),   # shares 'p q r s' with doc 1
            (3, "a b c d e f"),   # disjoint
            (4, "m p q r t"),     # single shared trigram with 1,2: run 3
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): (r.max_run_tokens, r.n_runs)
        for r in cross_doc_spans(df, min_run_tokens=4).collect()
    }
    assert got == {(1, 2): (4, 1)}
    # lowering the floor admits the single-trigram matches too
    low = {
        (r.doc_a, r.doc_b): r.max_run_tokens
        for r in cross_doc_spans(df, min_run_tokens=3).collect()
    }
    assert low == {(1, 2): 4, (1, 4): 3, (2, 4): 3}


def test_hll_sliding_merge_equals_recompute(spark):
    """X112: merging tumble sketches across a window's hops must give
    EXACTLY the sketch of the window's raw union (merge ≡ recompute),
    including leading/trailing partial windows."""
    import datetime as dt

    from pyspark.sql import functions as F2

    from oa_spider_spark.operators.sketch import (
        hll_distinct, hll_sliding_distinct,
    )

    h0 = dt.datetime(2024, 3, 1, 10, 0)

    def at(hour, users):
        return [(u, h0 + dt.timedelta(hours=hour)) for u in users]

    rows = at(0, ["A", "B"]) + at(1, ["B", "C"]) + at(2, ["D"])
    ev = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        r.win_end: r.est_milli
        for r in hll_sliding_distinct(ev, "user_id", hops=2).collect()
    }
    member_users = {0: ["A", "B"], 1: ["A", "B", "C"], 2: ["B", "C", "D"], 3: ["D"]}
    for hour, users in member_users.items():
        sub = spark.createDataFrame([(u,) for u in users], "user_id string")
        want = hll_distinct(sub, "user_id").collect()[0].est_milli
        assert got[h0 + dt.timedelta(hours=hour)] == want, hour
    assert len(got) == 4


def test_charset_detect_precedence(spark):
    """X115: BOM > header > meta > heuristic, WHATWG sniffing order."""
    from oa_spider_spark.operators.multimodal import charset_detect

    rows = [
        # BOM present: wins over a contradicting header AND meta
        (1, "EFBBBF4142", "text/html; charset=ISO-8859-1",
         '<meta charset="gbk">'),
        # header beats meta
        (2, "4142", "text/html; charset=ISO-8859-1", '<meta charset="gbk">'),
        # meta only
        (3, "4142", "text/html", "<meta charset='Shift_JIS'>"),
        # heuristic: high bytes
        (4, "C4E3BAC3", "text/html", "<p></p>"),
        # heuristic: ascii
        (5, "68656C6C", "text/html", "<p></p>"),
        # empty payload: no pairs, ascii by convention
        (6, "", "text/html", "<p></p>"),
    ]
    df = spark.createDataFrame(
        rows, "blob_id long, lead_hex string, header_ct string, html string"
    )
    got = {
        r.blob_id: (r.charset, r.charset_source, r.highbyte_milli)
        for r in charset_detect(df).collect()
    }
    assert got == {
        1: ("utf-8", "bom", 600),
        2: ("iso-8859-1", "header", 0),
        3: ("shift_jis", "meta", 0),
        4: ("gbk-likely", "heuristic", 1000),
        5: ("ascii", "heuristic", 0),
        6: ("ascii", "heuristic", 0),
    }


def test_truncation_loss_curve(spark):
    """X122: overflow counts and lost-token sums per grid point."""
    from oa_spider_spark.operators.text import truncation_loss

    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 5)), (2, " ".join(["w"] * 10)),
         (3, " ".join(["w"] * 20))],
        "doc_id long, text string",
    )
    got = {
        r.trunc_len: (r.n_docs, r.docs_over, r.total_tokens, r.tokens_lost,
                      r.lost_milli)
        for r in truncation_loss(docs, lengths=(8, 16)).collect()
    }
    assert got == {8: (3, 2, 35, 14, 400), 16: (3, 1, 35, 4, 114)}


def test_bitext_alignment_qa(spark):
    """X137: matched counts with good ratios align; a dropped paragraph
    or a wildly divergent one fails with the right census."""
    from oa_spider_spark.operators.text import bitext_alignment_qa

    rows = [
        (1, "hello world\n\ngood morning", "hallo weltx\n\nguten morgenx"),
        (2, "one two\n\nthree four", "one two"),                # count drop
        (3, "same length\n\nshort", "same length\n\n" + "y" * 50),  # bad ratio
    ]
    pairs = spark.createDataFrame(rows, "pair_id long, text_a string, text_b string")
    got = {
        r.pair_id: (r.n_paras_a, r.n_paras_b, r.n_paras_ok, r.aligned)
        for r in bitext_alignment_qa(pairs, ["pair_id"], min_ratio_milli=600).collect()
    }
    assert got[1] == (2, 2, 2, True)
    assert got[2] == (2, 1, 1, False)
    assert got[3][3] is False and got[3][2] == 1


def test_readability_exact_counts(spark):
    """Hand text with known word/sentence/vowel-group counts produces
    the exact milli formula values."""
    from oa_spider_spark.operators.text import readability

    # "the cat sat. it ran! fast?" -> 6 words, 3 sentence runs,
    # vowel groups: e,a,a,i,a,a -> 6
    df = spark.createDataFrame(
        [(1, "the cat sat. it ran! fast?")], "doc_id long, text string"
    )
    r = readability(df).collect()[0]
    assert r["n_words"] == 6 and r["n_sentences"] == 3
    assert r["n_syllables"] == 6
    assert r["fre_milli"] == 206835 - (1015 * 6) // 3 - (84600 * 6) // 6
    assert r["grade_milli"] == (390 * 6) // 3 + (11800 * 6) // 6 - 15590


def test_quantization_recall_bounds(spark):
    """Recall is 1000 when quantization cannot reorder (well-separated
    scores) and the overlap count is exact; output is one row per
    query with k echoed."""
    from oa_spider_spark.operators.similarity import quantization_recall

    # 6 vectors along distinct directions with well-separated dots
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.5, 0.5, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = quantization_recall(emb, emb.filter("vec_id = 0"), k=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["query_id"] == 0 and r["k"] == 3
    # ref top-3 for query 0: vecs 0, 1, 2 — separations are far beyond
    # int8 resolution, so the quantized ranking agrees exactly
    assert r["overlap"] == 3 and r["recall_milli"] == 1000


def test_clustering_churn_exact_rand(spark):
    """Identical clusterings give rand 1000 / 0 splits / 0 merges; a
    hand-planted merge produces the hand-computed Rand exactly."""
    from oa_spider_spark.operators.dedup import clustering_churn

    old = spark.createDataFrame(
        [(i, i // 3) for i in range(9)], "doc_id long, cluster_id long"
    )
    same = clustering_churn(old, old).collect()[0]
    assert same["rand_milli"] == 1000
    assert same["splits"] == 0 and same["merges"] == 0
    # merge clusters 0 and 1 into 100: docs 0-5 together, 6-8 unchanged
    new = spark.createDataFrame(
        [(i, 100 if i < 6 else 2) for i in range(9)],
        "doc_id long, cluster_id long",
    )
    r = clustering_churn(old, new).collect()[0]
    # contingency: (0,100)=3 (1,100)=3 (2,2)=3; N=9
    # sij = 3+3+3 = 9; si = 3*C(3,2)=9; sj = C(6,2)+C(3,2)=15+3=18
    # rand = (36 + 18 - 9 - 18)/36 = 27/36 -> 750
    assert r["rand_milli"] == 750
    assert r["splits"] == 0 and r["merges"] == 1
    assert r["clusters_old"] == 3 and r["clusters_new"] == 2


def test_code_detect_branches(spark):
    """Brace-heavy code, indented keyword code, and plain prose each
    land on their intended side of the router."""
    from oa_spider_spark.operators.text import code_detect

    rows = [
        (1, "def f(x): return {x: 1}; y = (2); z = (3); import os"),
        (2, "line one\n  import os\n  return x\n  const y = 1"),
        (3, "this is a perfectly ordinary sentence about nothing much"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in code_detect(df).collect()}
    assert out[1]["is_code"] and out[1]["brace_milli"] >= 40
    assert out[2]["is_code"] and out[2]["indent_milli"] >= 300
    assert out[2]["keyword_hits"] >= 2
    assert not out[3]["is_code"]


def test_hashed_linear_score_exact_dot(spark):
    """The logit is the exact tf-weighted sum over hashed buckets plus
    bias, with unknown-bucket weights contributing zero."""
    import hashlib

    from oa_spider_spark.operators.text import hashed_linear_score

    def bucket(tok, n=64):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % n

    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "unknown words only")],
        "doc_id long, text string",
    )
    wrows = [(bucket("good"), 250), (bucket("bad"), -400), (-1, 100)]
    w = spark.createDataFrame(wrows, "bucket int, weight_micro long")
    out = {
        r["doc_id"]: r
        for r in hashed_linear_score(
            docs, w, n_buckets=64, portable=True
        ).collect()
    }
    # collisions possible in 64 buckets; recompute expectations honestly
    def logit(text):
        wmap = {}
        for b, v in wrows[:-1]:
            wmap[b] = wmap.get(b, 0) + v
        s = 0
        for tok in text.lower().split():
            s += wmap.get(bucket(tok), 0)
        return s + 100
    assert out[1]["logit_micro"] == logit("good good bad")
    assert out[2]["logit_micro"] == logit("unknown words only")
    assert out[1]["accept"] == (out[1]["logit_micro"] >= 0)


def test_hashed_linear_score_defaults_bias_to_zero(spark):
    """A weight table without a bias row (bucket -1) scores every doc
    with bias 0 instead of returning no rows."""
    from oa_spider_spark.operators.text import hashed_linear_score

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    w = spark.createDataFrame([(b, 7) for b in range(8)], "bucket int, weight_micro long")
    out = {
        r["doc_id"]: r["logit_micro"]
        for r in hashed_linear_score(docs, w, n_buckets=8, portable=True).collect()
    }
    assert out == {1: 14, 2: 7}


def test_threshold_sweep_exact_counts(spark):
    """Hand pairs/truth: confusion counts per threshold are exact,
    including truth pairs missing from the scored set (score NULL —
    never predicted, still counted in recall's denominator)."""
    from oa_spider_spark.operators.dedup import threshold_sweep

    pairs = spark.createDataFrame(
        [(1, 2, 900), (3, 4, 700), (5, 6, 400)],
        "doc_a long, doc_b long, score_milli long",
    )
    truth = spark.createDataFrame(
        [(1, 2), (5, 6), (7, 8)], "doc_a long, doc_b long"
    )
    out = {
        r["threshold"]: r
        for r in threshold_sweep(
            pairs, truth, thresholds=(500, 800)
        ).collect()
    }
    r5 = out[500]
    assert (r5["n_predicted"], r5["n_truth"], r5["tp"]) == (2, 3, 1)
    assert r5["precision_milli"] == 500 and r5["recall_milli"] == 333
    r8 = out[800]
    assert (r8["n_predicted"], r8["tp"]) == (1, 1)
    assert r8["precision_milli"] == 1000 and r8["recall_milli"] == 333


def test_threshold_sweep_joins_once(spark):
    """The scored join is evaluated once for all thresholds: one join in
    the plan, exploded over the threshold literals before one groupBy."""
    from oa_spider_spark.operators.dedup import threshold_sweep

    pairs = spark.createDataFrame([(1, 2, 900)], "doc_a long, doc_b long, score_milli long")
    truth = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = threshold_sweep(pairs, truth)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join FullOuter") == 1, plan
    assert out.count() == 5


def test_fluency_buckets_thirds_and_rank(spark):
    """Exact thirds with deterministic tie-breaks; rank is the true
    global (score desc, id asc) position; bucket sizes follow the
    integer-thirds rule."""
    from oa_spider_spark.operators.text import fluency_buckets

    rows = [(i, 1000 - (i % 4) * 100) for i in range(9)]  # tied scores
    df = spark.createDataFrame(rows, "doc_id long, score_micro long")
    out = {r["doc_id"]: r for r in fluency_buckets(df).collect()}
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    for rk, (did, _s) in enumerate(order, 1):
        assert out[did]["rank"] == rk
        want = "head" if rk * 3 <= 9 else ("middle" if rk * 3 <= 18 else "tail")
        assert out[did]["bucket"] == want
    from collections import Counter
    assert Counter(r["bucket"] for r in out.values()) == {
        "head": 3, "middle": 3, "tail": 3,
    }
