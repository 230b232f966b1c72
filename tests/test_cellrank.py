"""The two-level cell rank (cellrank.py) and the operators built on it:
every row keeps its place in the plain-window order, NULL order keys
included, and cells stay bounded under mass ties."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _dense_vocab_ids(spark):
    from oa_spider_spark.operators.pipeline import dense_vocab_ids

    df = spark.createDataFrame(
        [("a", 5), ("b", None), ("c", 2)], "term string, df long"
    )
    got = dense_vocab_ids(df).select("term", "vid")
    want = df.select(
        "term",
        (F.row_number().over(Window.orderBy(F.col("df").desc(), "term")) - 1).alias("vid"),
    )
    return got, want


def _byte_budget_select(spark):
    from oa_spider_spark.frontier.politeness import byte_budget_select

    df = spark.createDataFrame(
        [("/a", 3, 10), ("/b", None, 20), ("/c", 1, 30)],
        "url string, priority long, est_bytes long",
    )
    got = byte_budget_select(df, 1000).select("url", "cum_bytes")
    w = Window.orderBy(F.col("priority").desc(), "url").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.select("url", F.sum("est_bytes").over(w).alias("cum_bytes"))
    return got, want


def _fetch_timeline(spark):
    from oa_spider_spark.frontier.politeness import fetch_timeline

    df = spark.createDataFrame(
        [("h", "/a", 3), ("h", "/b", None), ("h", "/c", 1)],
        "host string, url string, priority long",
    )
    delays = spark.createDataFrame([], "host string, crawl_delay_ms long")
    got = fetch_timeline(df, delays).select("url", "slot")
    w = Window.partitionBy("host").orderBy("priority", "url")
    want = df.select("url", (F.row_number().over(w) - 1).alias("slot"))
    return got, want


@pytest.mark.parametrize(
    "case", [_dense_vocab_ids, _byte_budget_select, _fetch_timeline], ids=lambda c: c.__name__[1:]
)
def test_null_order_key_keeps_row_in_plain_window_place(spark, case):
    """A NULL order key is a cell like any other: no row is dropped, and
    each lands where Spark's plain window over the same order puts it."""
    got, want = case(spark)
    got_rows = sorted(map(tuple, got.collect()))
    assert len(got_rows) == 3
    assert got_rows == sorted(map(tuple, want.collect()))


def _single_task_window_input_rows(df) -> list[int]:
    """Rows fed to each partition-less window of `df`'s executed plan —
    the output-row metric of the aggregate that feeds it."""

    def kids(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if name.endswith("QueryStageExec"):
            return [node.plan()]
        if name == "ReusedExchangeExec":
            return [node.child()]
        ch = node.children()
        return [ch.apply(i) for i in range(ch.size())]

    def first_agg_rows(node):
        if node.getClass().getSimpleName() == "HashAggregateExec":
            return node.metrics().apply("numOutputRows").value()
        for k in kids(node):
            got = first_agg_rows(k)
            if got is not None:
                return got
        return None

    found = []

    def walk(node):
        if node.getClass().getSimpleName() == "WindowExec" and node.partitionSpec().isEmpty():
            found.append(first_agg_rows(node))
        for k in kids(node):
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return found


@pytest.mark.parametrize("scores", ["identical", "distinct"])
def test_fluency_buckets_cells_are_bounded(spark, scores):
    """Mass ties and all-distinct scores both map onto a bounded offsets
    frame (≤ 256 × 256 cells) that still splits the data, and the rank is
    the plain (score desc, id asc) position."""
    from oa_spider_spark.operators.text import fluency_buckets

    n = 100_000
    score = F.lit(500) if scores == "identical" else (F.col("id") * 7919) % n
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), score.cast("long").alias("score_micro")
    )
    out = fluency_buckets(df)
    got = {r["doc_id"]: r["rank"] for r in out.collect()}
    cells = _single_task_window_input_rows(out)
    assert cells and all(2 <= c <= 65_536 for c in cells), cells
    want = sorted(df.collect(), key=lambda r: (-r["score_micro"], r["doc_id"]))
    assert got == {r["doc_id"]: i for i, r in enumerate(want, 1)}


def test_cell_rank_weighted_within_part_matches_plain_window(spark):
    """Weighted running sums within a partition, over several cells and a
    NULL cell, equal the plain partitioned window."""
    from oa_spider_spark.cellrank import cell_rank

    rows = [(i % 3, i % 7 if i % 11 else None, i, i % 5) for i in range(200)]
    df = spark.createDataFrame(rows, "g long, c long, k long, w long")
    order = [F.col("c"), F.col("k")]
    got = cell_rank(df, ["c"], order, part=["g"], weight="w").select("k", "_rank")
    w = Window.partitionBy("g").orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = df.select("k", F.sum("w").over(w).alias("_rank"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_cell_rank_offset_filter_reaches_cell_frame(spark):
    """A caller's `_off < k` filter is pushed below the in-cell window
    and the offsets join, so cells past the cutoff are never sorted."""
    from oa_spider_spark.cellrank import cell_rank

    df = spark.range(1000).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 10).alias("c"), F.col("id").alias("k")
    )
    out = cell_rank(df, ["c"], [F.col("k")], part=["g"]).filter(F.col("_off") < 100)
    plan = out._jdf.queryExecution().optimizedPlan().toString().splitlines()
    join_at = next(i for i, ln in enumerate(plan) if "Join" in ln)
    cut_at = [i for i, ln in enumerate(plan) if "Filter" in ln and "< 100" in ln]
    assert cut_at and min(cut_at) > join_at, "\n".join(plan)  # deeper = printed later
    assert out.count() == 2 * 100
