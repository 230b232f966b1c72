"""SparkSession factory tuned for the crawl engine.

Local-mode knobs are sized for the sandbox (local[N], single JVM); the same
settings translate to cluster mode where noted. AQE + Arrow are always on:
the engine's two Python stages (fetch/decode, verify) are Arrow-batched
(`mapInArrow` / pandas_udf), everything else is whole-stage-codegen'd JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The engine's settings for any master: get_spark adds the local-mode
# sizing, scripts/submit_crawl.py applies them under spark-submit.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # One crawl round generates ~100 classes (108 cold on a 400-seed
    # round, 4-vCPU VM) and the static default of 100 cache entries
    # thrashed: re-running a round with the same round id and inputs in
    # the same JVM re-ran 62-100 Janino compiles. 2000 holds it with
    # headroom. A static entry: it only takes effect if set before the
    # session starts. Each new round id still compiles ~10 classes
    # (F.lit(round_id) is inlined into generated code).
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Keep the codegen stage id out of the generated class name, the
    # cache key: AQE numbers stages in completion order, so the same
    # pipeline drew different ids in different runs and recompiled.
    # Plans still print the id as `*(N)`.
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_spark(
    cores: int | None = None,
    app_name: str = "oa_spider_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` → local[*]. ``shuffle_partitions`` defaults to the core
    count — on a real cluster, set it to ~2-3× total executor cores instead.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n = cores or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far (Spark's CodegenMetrics);
    the difference across a job is the classes it could not take from
    the codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
