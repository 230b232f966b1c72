"""Spark session lifetime for one benchmark run.

Everything the session writes (shuffle spill, warehouse, JVM and Python
temp files, event logs) stays under the run's work directory, and
`stop_session` waits for the JVM to exit so a run leaves no process
behind.
"""

from __future__ import annotations

import itertools
import os
import subprocess
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .procstat import parent_map, tree_pids

# The JVM heap, pinned below physical memory (session.py defaults to 16g)
# and fixed in size, so the process tree's peak RSS does not follow the
# garbage collector's heap resizing.
DRIVER_MEM = "2g"

_obs_ids = itertools.count()


def start_session(work: Path, cores: int, event_dir: Path | None = None) -> SparkSession:
    """local[cores] session with all scratch space under `work`."""
    from oa_spider_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(tmp)  # inherited by the JVM and its Python workers
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
        })
    return get_spark(cores=cores, app_name="perfbench", shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark: SparkSession, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM by closing its stdin, and wait until no
    process started by this one is left."""
    gateway = spark.sparkContext._gateway
    proc: subprocess.Popen | None = getattr(gateway, "proc", None)
    # the JVM's Python workers are reparented once the JVM exits, so the
    # set to wait for is taken while they are still our descendants
    started = tree_pids(os.getpid(), parent_map()) - {os.getpid()}
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while (left := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    """True while `pid` runs; an exited process awaiting reaping is not."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with a row-count Observation riding its next action."""
    obs = Observation(f"perfbench_{next(_obs_ids)}")
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Persist `df`, compute it once through the `noop` sink (a `count()`
    would let Catalyst prune projected work) and return it with its row
    count. Downstream plans read the cached rows."""
    from pyspark import StorageLevel

    df, obs = counted(df)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.write.format("noop").mode("overwrite").save()
    return df, int(obs.get["n"])
