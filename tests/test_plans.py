"""Physical-plan guardrails (SURVEY.md §7 hard-part 3): assert the
optimizations we rely on at 100-TB scale actually appear in the plans —
column pruning reaches the parquet scan, the global crawl order is a
range-partitioned distributed sort (never a single-task window), and the
seen anti-join + hosts join pick the intended strategies."""

import ast
import pathlib
import re

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from oa_spider_spark import datagen
from oa_spider_spark.frontier.politeness import budget_and_order, global_order_and_limit
from oa_spider_spark.frontier.round import dedup_frontier, run_round, seed_catalog
from oa_spider_spark.session import codegen_compiles
from oa_spider_spark.tables import Catalog

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_token_count_prunes_documents_scan(spark):
    """A 2-column projection must not read the whole documents schema."""
    df = entry_mod.queries()["q_token_count"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_crawl_select_pushes_nothing_through_python(spark):
    """q_crawl_select is pure JVM — no Python evals anywhere in the plan."""
    df = entry_mod.queries()["q_crawl_select"](spark, SF_DIR)
    plan = plan_of(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonMapInArrow"):
        assert marker not in plan, f"{marker} found in crawl-select plan"


def test_global_order_is_bucketed_not_single_task(spark):
    """The engine's total order must be a distributed bucketed rank —
    never a partition-less Window (single task at 10^10 rows), and never
    a priority-bucket-only rank (only ~100 buckets ⇒ each in-bucket
    window is ~1% of the frontier in ONE task). Every data window must
    partition by the (_b, _s) cell, and cells must be bounded."""
    f = datagen.seed_frontier_df(spark, 2000, n_hosts=6, hot_share=0.4)
    out = global_order_and_limit(f, None)
    out.collect()
    plan = plan_of(out)
    # every data row_number window must carry the 2-level cell spec
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "_b" in line and "_s" in line, f"coarse window: {line}"
    assert "BroadcastHashJoin" in plan, plan  # offsets join must broadcast
    # bounded single-task work: no (priority, created_ms-range) cell may
    # hold a macroscopic share of the rows
    from pyspark.sql import functions as F2

    cells = (
        f.groupBy(
            F2.least(F2.greatest(F2.lit(99) - F2.col("priority"), F2.lit(0)), F2.lit(99)),
            F2.col("created_ms"),
        ).count()
    )
    n_cells = cells.count()
    assert n_cells >= 100  # the second key actually splits the buckets
    cache = getattr(out, "_ordered_cache", None)
    if cache is not None:
        cache.unpersist()


def test_global_order_total_rank_is_correct(spark):
    """fetch_order from the 2-level bucketed rank must equal the rank of
    a plain global sort (the semantics the decomposition must preserve)."""
    f = datagen.seed_frontier_df(spark, 1500, n_hosts=5, hot_share=0.5)
    out = global_order_and_limit(f, None)
    got = [
        r["url_hash"]
        for r in out.orderBy("fetch_order").select("url_hash").collect()
    ]
    from oa_spider_spark.frontier.politeness import order_cols

    want = [r["url_hash"] for r in f.orderBy(*order_cols()).select("url_hash").collect()]
    assert got == want
    orders = [r["fetch_order"] for r in out.orderBy("fetch_order").collect()]
    assert orders == list(range(1, len(want) + 1))
    cache = getattr(out, "_ordered_cache", None)
    if cache is not None:
        cache.unpersist()


def test_dedup_frontier_is_partial_aggregate_not_window(spark):
    """dedup_frontier must compile to a partial + final aggregate
    (map-side combine before the shuffle) rather than a row_number
    window."""
    f = datagen.seed_frontier_df(spark, 300, n_hosts=5, hot_share=0.3)
    out = dedup_frontier(f)
    out.collect()
    plan = plan_of(out)
    assert "Window" not in plan, plan
    assert "partial_max_by" in plan, plan  # map-side combine before the shuffle


def test_fetch_stage_is_arrow_not_row_python(spark):
    """The fetch stage must be mapInArrow (Arrow record batches), and its
    input must already be salted-repartitioned (round-robin/hash exchange
    ahead of the Python stage)."""
    from oa_spider_spark.frontier.fetch import fetch_stage
    from oa_spider_spark.frontier.politeness import salted_repartition

    f = datagen.seed_frontier_df(spark, 200, n_hosts=4, hot_share=0.4)
    out = fetch_stage(salted_repartition(f, 4), n_hosts=4)
    plan = plan_of(out)
    assert "PythonMapInArrow" in plan or "MapInArrow" in plan, plan
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in fetch path"


def test_budget_and_order_matches_unfused_pipeline(spark):
    """The fused budget+rank operator (round hot path) must produce the
    exact selection and fetch_order of the reference pipeline
    apply_budget → global_order_and_limit, and its data windows must be
    partitioned by the (host, bucket)/(bucket) cells — the hot host's
    backlog must never be sorted in one task."""
    from oa_spider_spark.frontier.politeness import apply_budget

    f = datagen.seed_frontier_df(spark, 3000, n_hosts=6, hot_share=0.5).withColumn(
        "budget_per_round", F.lit(None).cast("int")
    )
    for limit in (None, 150):
        fused = budget_and_order(f, 80, limit)
        unfused = global_order_and_limit(apply_budget(f, 80), limit)
        got = [(r["url_hash"], r["fetch_order"]) for r in fused.orderBy("fetch_order").collect()]
        want = [(r["url_hash"], r["fetch_order"]) for r in unfused.orderBy("fetch_order").collect()]
        assert got == want and len(got) > 0
        for df in (fused, unfused):
            cache = getattr(df, "_ordered_cache", None)
            if cache is not None:
                cache.unpersist()

    fused = budget_and_order(f, 80)
    fused.collect()
    plan = plan_of(fused)
    for line in plan.splitlines():
        if "row_number" in line and "windowspecdefinition" in line.lower():
            assert "_b" in line, f"data window not bucket-partitioned: {line}"
    cache = getattr(fused, "_ordered_cache", None)
    if cache is not None:
        cache.unpersist()


def test_budget_and_order_null_host_leaves_no_fetch_order_gap(spark):
    """A NULL-host row has no host budget: it is not selected, and it must
    not shift the fetch_order of the rows that are."""
    rows = spark.range(30).select(
        F.concat(F.lit("http://h"), (F.col("id") % 3).cast("string"), F.lit(".example.org/doc/"),
                 F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string"), F.lit(".example.org")).alias("host"),
        (F.col("id") % 50).cast("int").alias("priority"),
        (F.lit(1_600_000_000_000) + F.col("id")).alias("created_ms"),
        F.lit("doc").alias("kind"),
        F.col("id").alias("url_hash"),
    )
    null_host = rows.limit(1).select(
        "url", F.lit(None).cast("string").alias("host"), F.lit(99).alias("priority"),
        "created_ms", "kind", F.lit(1000).cast("long").alias("url_hash"),
    )
    f = rows.unionByName(null_host).withColumn("budget_per_round", F.lit(None).cast("int"))
    out = budget_and_order(f, 5)
    got = out.select("host", "fetch_order").collect()
    out._ordered_cache.unpersist()
    assert all(r["host"] is not None for r in got)
    assert sorted(r["fetch_order"] for r in got) == list(range(1, 16))


def test_repeated_round_compiles_no_classes(spark, tmp_path):
    """The crawl round's generated classes fit the codegen cache: the same
    round (same seeds, same round id) on a second fresh catalog runs no
    Janino compile. A round that outgrows the cache recompiles dozens of
    classes every time it runs."""
    seeds = datagen.seed_frontier_rows(400, n_hosts=10, hot_share=0.4)
    added = []
    for name in ("first", "second"):
        cat = Catalog(tmp_path / name)
        seed_catalog(spark, cat, seeds)
        before = codegen_compiles(spark)
        run_round(spark, cat, 0, n_hosts=10, default_budget=25)
        added.append(codegen_compiles(spark) - before)
    assert added[1] == 0, f"compiles per run: {added}"


def test_attachments_join_is_hash_join_not_nested_loop(spark):
    """J4 child-table equi-join must compile to a hash join (broadcast or
    shuffled) — a nested-loop/cartesian product would be quadratic."""
    df = entry_mod.queries()["q_attachments_join"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert "HashJoin" in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, f"{bad} in attachments-join plan"


def test_html_parse_is_arrow_and_prunes_scan(spark):
    """The HTML parse stage must be one Arrow hop (never row Python), and
    the documents scan must read only the columns the page synth uses."""
    df = entry_mod.queries()["q_html_parse"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert "PythonMapInArrow" in plan or "MapInArrow" in plan, plan
    assert "BatchEvalPython" not in plan, "row-at-a-time Python in parse path"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text", "source", "n_chars"}, cols


def test_topk_queries_use_distributed_topk(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject
    (per-partition top-k merged on the driver) — never a global sort."""
    for q in ("q_cosine_topk", "q_ivf_ann"):
        df = entry_mod.queries()[q](spark, SF_DIR)
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan, f"{q}: {plan[:800]}"


def test_global_order_correct_for_out_of_range_priorities(spark):
    """Code-review r02: the old clamped `_b` let priority 150 share a
    bucket with priority 99, and the created_ms sub-split then interleaved
    them out of order. `_b` is now the exact negated priority — the rank
    must equal a plain full sort for ANY priority domain."""
    base = datagen.seed_frontier_df(spark, 400, n_hosts=4, hot_share=0.3)
    f = base.withColumn(
        "priority",
        F.when(F.col("url_hash") % 7 == 0, F.col("priority") + 120)
        .when(F.col("url_hash") % 7 == 1, F.col("priority") - 150)
        .otherwise(F.col("priority")),
    )
    out = global_order_and_limit(f, None)
    got = [
        r["url_hash"]
        for r in out.orderBy("fetch_order").select("url_hash").collect()
    ]
    from oa_spider_spark.frontier.politeness import order_cols

    want = [r["url_hash"] for r in f.orderBy(*order_cols()).select("url_hash").collect()]
    assert got == want
    cache = getattr(out, "_ordered_cache", None)
    if cache is not None:
        cache.unpersist()


# Partition-less windows whose input is already cut to limit(k) rows,
# and the per-language metadata frame of temperature_targets.
_UNPARTITIONED_OK = {
    ("queries.py", "q_crawl_select"),
    ("queries.py", "q_topk_priority"),
    ("queries.py", "q_cosine_topk"),
    ("queries_dedup.py", "q_ivf_ann"),
    ("operators/similarity.py", "_ranked_topk"),
    ("operators/pipeline.py", "temperature_targets"),
}


def _calls(path: pathlib.Path, match):
    """(enclosing function, call node) of every call `match` accepts."""

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(child, child.name)
                continue
            if isinstance(child, ast.Call) and match(child):
                yield fn, child
            yield from visit(child, fn)

    yield from visit(ast.parse(path.read_text()), None)


def _is_unpartitioned_window(call: ast.Call) -> bool:
    """`Window.orderBy(...)`, `Window.rowsBetween/rangeBetween(...)` or
    `Window.partitionBy()`."""
    f = call.func
    return (
        isinstance(f, ast.Attribute)
        and isinstance(f.value, ast.Name)
        and f.value.id == "Window"
        and (
            f.attr in ("orderBy", "rowsBetween", "rangeBetween")
            or (f.attr == "partitionBy" and not call.args)
        )
    )


def test_no_partitionless_window_outside_cell_rank():
    """A partition-less Window runs in ONE task. Over data it may appear
    only in cellrank.py (which runs it over the cell frame) and in the
    allow-listed functions above."""
    root = pathlib.Path(entry_mod.__file__).parent / "oa_spider_spark"
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "cellrank.py":
            continue
        for fn, call in _calls(path, _is_unpartitioned_window):
            if (rel, fn) not in _UNPARTITIONED_OK:
                bad.append(f"{rel}:{call.lineno} in {fn}")
    assert not bad, "partition-less Window outside cell_rank: " + ", ".join(bad)


# The round's stages, wired together in exactly one place.
_ROUND_STAGES = {
    "fetch_stage", "budget_and_order", "anti_join_seen",
    "update_bloom_index", "links_to_frontier",
}


def _stage_name(call: ast.Call) -> str | None:
    f = call.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    return name if name in _ROUND_STAGES else None


def test_round_stages_wired_only_in_run_round():
    """One round body: batch rounds and streaming micro-batches both go
    through `run_round`, so no other library code may call its stages —
    a second wiring is a second round body that drifts."""
    root = pathlib.Path(entry_mod.__file__).parent / "oa_spider_spark"
    bad = [
        f"{path.relative_to(root).as_posix()}:{call.lineno} {_stage_name(call)} in {fn}"
        for path in sorted(root.rglob("*.py"))
        for fn, call in _calls(path, _stage_name)
        if (path.relative_to(root).as_posix(), fn) != ("frontier/round.py", "run_round")
    ]
    assert not bad, "round stage called outside run_round: " + ", ".join(bad)
