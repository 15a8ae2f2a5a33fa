"""Structured Streaming operators (SURVEY.md §2.10 → Spark streams).

The reference's ``multiple_run`` loop is a poll-sleep batch cycle
(App.java:31-58). Its streaming restatement: the frontier/metrics tables are
file streams consumed with ``Trigger.AvailableNow`` micro-batches — each
trigger ≈ one crawl round — with watermarked windowed aggregation for
late-arriving fetch results (the reference has no watermark concept; failures
are simply retried next round, DataCrawler.java:53-56).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataset_crawler_spark.functions.urls import canonicalize_url

FETCH_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("fetched_at", T.TimestampType()),
        T.StructField("status", T.StringType()),  # success|error|timeout
        T.StructField("bytes", T.LongType()),
    ]
)


def read_fetch_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of fetch events (one parquet drop per round)."""
    return spark.readStream.schema(FETCH_EVENT_SCHEMA).parquet(path)


def windowed_host_metrics(stream: DataFrame, window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Per-host tumbling-window fetch metrics with late-data watermark —
    the streaming twin of the crawl_operations_log rollup (CrawlerLogs.java:30-48)."""
    return (
        stream.withWatermark("fetched_at", watermark)
        .groupBy(F.window("fetched_at", window).alias("w"), F.col("host"))
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum(F.when(F.col("status") == "success", 1).otherwise(0)).alias("n_ok"),
            F.sum("bytes").alias("total_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_fetches",
            "n_ok",
            "total_bytes",
        )
    )


def streaming_url_dedup(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming frontier dedup: admit each canonical URL once within the
    watermark horizon — the streaming twin of the batch seen-set
    (bloom probe + exact confirm, operators/scheduler.py).

    ``dropDuplicatesWithinWatermark`` keys dedup state on ``url_c`` (the
    canonicalized form, so `?b=2&a=1` and `?a=1&b=2` collapse — same
    semantics as the batch path) and — unlike plain ``dropDuplicates`` on a
    stream, whose state grows forever — evicts a key's state once the
    watermark passes its event time. At 10^10-URL scale that bounds
    streaming dedup state to the watermark window; the durable long-horizon
    seen set stays bloom + the exact ``fetched`` table, extended per round, and this
    operator guards the intra-horizon stream in front of it."""
    return (
        stream.withColumn("url_c", canonicalize_url(F.col("url")))
        .withWatermark("fetched_at", watermark)
        .dropDuplicatesWithinWatermark(["url_c"])
    )


ADMITTED_SCHEMA = "host string, url string, fetched_at timestamp, cum_admitted long"


def stateful_host_budget(stream: DataFrame, budget: int) -> DataFrame:
    """Custom stateful operator: per-host cumulative fetch budget ACROSS
    micro-batches (``applyInPandasWithState``).

    The batch engine enforces the per-round budget inside one round
    (politeness_topk); the streaming twin must remember how much of a host's
    budget earlier micro-batches consumed — state Spark's built-in windowed
    aggs can't express. Per host: admit events in ``fetched_at`` order until
    the cumulative count reaches ``budget``, carrying the count in group
    state; later batches resume from the persisted count (checkpointed, so a
    restarted query continues exactly).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def gate(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        (host,) = key
        used = state.get[0] if state.exists else 0
        # One group's micro-batch rows can arrive split across several Arrow
        # chunks; concatenate before sorting so admission at the budget
        # boundary is globally fetched_at-ordered within the batch (per-host
        # batch volume is politeness-bounded, so this stays small).
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks and used < budget:
            pdf = pd.concat(chunks).sort_values("fetched_at", kind="mergesort")
            take = min(budget - used, len(pdf))
            out = pdf.iloc[:take]
            used += take
            yield pd.DataFrame(
                {
                    "host": out["host"],
                    "url": out["url"],
                    "fetched_at": out["fetched_at"],
                    "cum_admitted": range(used - take + 1, used + 1),
                }
            )
        state.update((used,))

    return stream.groupBy("host").applyInPandasWithState(
        gate,
        outputStructType=ADMITTED_SCHEMA,
        stateStructType="used long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(metrics: DataFrame, out_path: str, checkpoint: str) -> None:
    """Drain everything currently in the source as micro-batches (≈ rounds),
    then stop — the engine's batch-streaming bridge. Append mode: windows are
    emitted once their watermark passes; with AvailableNow + finite input the
    final batch flushes closed windows."""
    q = (
        metrics.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
