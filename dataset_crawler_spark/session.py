"""SparkSession factory tuned for the crawl engine.

Local-mode testing runs one JVM with N threads; the same config block is what
we would ship to a real cluster via ``spark-submit --py-files`` (AQE on, Arrow
on, skew-join on). Shuffle partitions default to the scheduler parallelism so
small-SF test runs don't fan out into 200 empty tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_heap() -> str:
    """Half of physical RAM, capped at 24g: local mode runs everything in one
    JVM, and a heap larger than the machine gets that JVM OOM-killed."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return f"{min(phys_mb // 2, 24 * 1024)}m"


def get_spark(
    app_name: str = "dataset_crawler_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cores`` may be an int (→ ``local[N]``) or a full master string. On a real
    cluster the master comes from spark-submit and this arg is ignored.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark", "yarn")) else f"local[{cores}]"
    nshuf = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Catalyst/AQE: runtime coalesce + skew-join split — the host-skewed
        # politeness shuffle (SURVEY.md §4 "Skew handling") relies on this
        # plus explicit salting in operators/scheduler.py.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(nshuf))
        # Arrow for every pandas UDF hot path (no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap(),
        )
        # Deterministic engine: never rely on partition iteration order; sorts
        # are explicit. Broadcast threshold stays default (10 MB) — dims
        # (hosts, robots) are tiny and auto-broadcast.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
