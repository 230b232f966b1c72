"""Each correctness check passes on a real round and fails on a
deliberately corrupted copy of its input. Sizes are tiny."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from oa_spider_spark import datagen
from oa_spider_spark.frontier.round import run_round
from oa_spider_spark.kernels.codec import decode_image, encode_png
from oa_spider_spark.tables import Catalog
from perfbench import checks, tracing
from perfbench.inputs import N_HOSTS, Workload, prepare_catalog, stage_inputs

TINY = Workload("tiny", n_frontier=600, budget=10, depth_levels=4, requeue_mod=10, seen_mod=4)


# -- pure Python checks ------------------------------------------------------

def _order_rows():
    # (fetch_order, priority, created_ms, kind, url_hash) in crawl order
    return [(1, 90, 5, "doc", 7), (2, 90, 5, "mail", 3), (3, 90, 4, "doc", 1), (4, 10, 9, "doc", 2)]


def test_fetch_order_passes_and_fails():
    rows = _order_rows()
    assert checks.check_fetch_order(list(reversed(rows))) == []
    gap = [(r[0] + (r[0] > 2), *r[1:]) for r in rows]
    assert checks.check_fetch_order(gap)
    swapped = [(2, *rows[0][1:]), (1, *rows[1][1:]), *rows[2:]]
    assert checks.check_fetch_order(swapped)


def _payload_rows(n=12):
    rows = []
    for i in range(n):
        url = datagen.url_of("h001.example.org", "doc", 5_000_000 + i)
        r = datagen.fetch_url(url, attempt=0, n_hosts=N_HOSTS)
        rows.append({"url_canon": url, "attempt": 0, "status": r.status, "bytes": r.bytes,
                     "caption": r.caption, "phash": r.phash, "links": r.links})
    assert any(r["status"] == "ok" for r in rows)
    return rows


def test_payload_sample_passes_and_fails():
    rows = _payload_rows()
    assert checks.check_payload_sample(rows, N_HOSTS) == []
    ok = next(i for i, r in enumerate(rows) if r["status"] == "ok")

    def corrupt(**kw):
        bad = [dict(r) for r in rows]
        bad[ok].update(kw)
        return checks.check_payload_sample(bad, N_HOSTS)

    assert corrupt(caption=rows[ok]["caption"] + "x")
    assert corrupt(phash=rows[ok]["phash"] ^ 1)
    assert corrupt(links=rows[ok]["links"] + ["http://h000.example.org/doc/1"])
    assert corrupt(status="failed")
    img = decode_image(rows[ok]["bytes"]).copy()
    img[::2, ::2] = 255 - img[::2, ::2]  # far below 40 dB
    assert corrupt(bytes=encode_png(img))


# -- checks over a real tiny round --------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.spark_env import start_session, stop_session

    s = start_session(tmp_path_factory.mktemp("spark"), cores=2)
    yield s
    stop_session(s)


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    return root, stage_inputs(spark, Catalog(root / "base"), TINY, seed=7, partitions=2)


@pytest.fixture(scope="module")
def tiny_round(spark, inputs):
    root, inp = inputs
    cat = prepare_catalog(str(root / "op"), inp)
    res = run_round(spark, cat, 0, n_hosts=N_HOSTS, default_budget=TINY.budget, partitions=2)
    fetched = cat.read(spark, "fetched")
    return cat, res, fetched


def test_inputs_follow_the_seed(spark):
    from perfbench.inputs import frontier_df

    a = {r.url for r in frontier_df(spark, 50, seed=1).collect()}
    b = {r.url for r in frontier_df(spark, 50, seed=2).collect()}
    assert len(a) == 50 and not a & b
    assert a == {r.url for r in frontier_df(spark, 50, seed=1).collect()}


def test_check_round_passes_on_a_real_round(spark, tiny_round):
    cat, res, _ = tiny_round
    assert res.selected > 0
    assert checks.check_round(spark, cat, res, budget=TINY.budget, n_hosts=N_HOSTS) == []


def test_selection_check_fails(spark, tiny_round):
    cat, res, fetched = tiny_round
    frontier = cat.read(spark, "frontier", as_of_round=-1)
    seen = cat.read(spark, "seen", as_of_round=-1)
    args = (frontier, seen)
    assert checks.check_selection(*args, fetched, TINY.budget, 2, res.selected) == []
    assert checks.check_selection(*args, fetched, TINY.budget, 2, res.selected + 1)
    one = fetched.select("url_hash").first()[0]
    assert checks.check_selection(*args, fetched.filter(F.col("url_hash") != one), TINY.budget, 2, res.selected)
    # a URL outside every host's top-budget took a slot
    extra = checks._live(frontier, seen, 2).join(fetched.select("url_hash"), "url_hash", "left_anti").limit(1)
    swapped = fetched.select("url_hash").filter(F.col("url_hash") != one).unionByName(extra.select("url_hash"))
    assert checks.check_selection(*args, swapped, TINY.budget, 2, res.selected)


def test_status_count_check_fails(tiny_round):
    _, res, fetched = tiny_round
    observed = checks.taxonomy_counts(fetched)
    assert observed["ok"] == res.fetched_ok and observed["retry"] == res.retried
    assert checks.check_status_counts(fetched, observed) == []
    assert checks.check_status_counts(fetched, dict(observed, ok=observed["ok"] - 1))
    assert checks.check_status_counts(fetched, dict(observed, timeout=observed["timeout"] + 1))


def test_unseen_check_fails(spark, tiny_round):
    cat, _, fetched = tiny_round
    seen = cat.read(spark, "seen", as_of_round=-1)
    assert checks.check_unseen(fetched, seen) == []
    leaked = seen.select("url_hash").unionByName(fetched.select("url_hash").limit(1))
    assert checks.check_unseen(fetched, leaked)


def test_traced_round_matches_run_round(spark, inputs, tiny_round):
    root, inp = inputs
    untraced_cat, res, _ = tiny_round
    cat = prepare_catalog(str(root / "traced"), inp)
    tracer = tracing.Tracer(spark)
    tr = tracing.traced_round(tracer, cat, 0, n_hosts=N_HOSTS, budget=TINY.budget, partitions=2)
    tracing.index_and_compaction(tracer, cat, 0, tr.dedup_out)
    want = {k: v for k, v in dataclasses.asdict(res).items() if k not in ("round_id", "bytes_fetched")}
    want["seen_delta"] = untraced_cat.cumulative_count("seen") - inp.counts["seen"]
    assert tr.funnel == want
    assert tr.bytes_fetched == res.bytes_fetched
    names = [s.name for s in tracer.spans]
    for layer in ("dedup", "seen", "budget", "fetch", "stage.fetched", "links",
                  "stage.derived", "commit", "seen.index", "seen.probe", "compact"):
        assert layer in names
    # the round's self time is what its layer spans leave unattributed
    selfs = dict(zip(names, tracing.self_seconds(tracer.spans)))
    rnd = tracer.last("round")
    assert 0 <= selfs["round"] < rnd.seconds
