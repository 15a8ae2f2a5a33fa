"""Structured Streaming: windowed fetch metrics with AvailableNow rounds."""

from __future__ import annotations

import datetime as dt

from dataset_crawler_spark.streaming.stream import (
    FETCH_EVENT_SCHEMA,
    read_fetch_stream,
    run_available_now,
    windowed_host_metrics,
)


def test_windowed_metrics_available_now(spark, tmp_path):
    src = tmp_path / "fetch_events"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("u1", "hostA", t0 + dt.timedelta(seconds=10), "success", 100),
        ("u2", "hostA", t0 + dt.timedelta(seconds=50), "error", 0),
        ("u3", "hostB", t0 + dt.timedelta(seconds=20), "success", 300),
        ("u4", "hostA", t0 + dt.timedelta(minutes=1, seconds=10), "success", 200),
        # late watermark flusher: an event far in the future closes old windows
        ("u5", "hostB", t0 + dt.timedelta(minutes=10), "success", 50),
    ]
    spark.createDataFrame(rows, FETCH_EVENT_SCHEMA).write.parquet(str(src))

    metrics = windowed_host_metrics(read_fetch_stream(spark, str(src)))
    run_available_now(metrics, str(out), str(ckpt))

    got = {
        (r.window_start.minute, r.host): (r.n_fetches, r.n_ok, r.total_bytes)
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got[(0, "hostA")] == (2, 1, 100)
    assert got[(0, "hostB")] == (1, 1, 300)
    assert got[(1, "hostA")] == (1, 1, 200)


def test_streaming_crawl_rounds_match_batch_engine(spark, tmp_path):
    """Frontier-drop stream → crawl rounds: two drops processed via
    streaming_crawl_rounds must commit the same rounds (fetched sets, op
    counts, visible docs) as driving CrawlEngine.crawl_round directly, and a
    drained re-run (no new files) must commit nothing — the
    checkpoint+idempotent-commit exactly-once composition."""
    from dataset_crawler_spark import datagen
    from dataset_crawler_spark.operators import seen as SN
    from dataset_crawler_spark.streaming.rounds import (
        CrawlEngine,
        simulated_fetcher,
        streaming_crawl_rounds,
    )

    n_docs, n_hosts = 200, 10
    rows = datagen.frontier_py(n_docs, n_hosts=n_hosts)
    frontier_schema = (
        "url string, host string, priority double, discovered_crawl_id int, "
        "seed_rank int, state string"
    )

    def frontier_df(sl):
        return spark.createDataFrame(
            [(r["url"], r["host"], r["priority"], r["discovered_crawl_id"],
              r["seed_rank"], r["state"]) for r in sl],
            frontier_schema,
        )

    drops = [rows[: len(rows) // 2], rows[len(rows) // 2:]]
    host_rows = [(f"host{i:04d}.example.org", 100, 10_000, [], True) for i in range(n_hosts)]
    hosts = spark.createDataFrame(
        host_rows,
        "host string, crawl_delay_ms int, max_fetch_per_round int, "
        "robots_disallow array<string>, is_available boolean",
    )
    params = SN.BloomParams.for_capacity(n_docs, fp_rate=0.01, n_shards=4)
    corpus = datagen.documents_for_round_local(spark, n_docs, 0, n_hosts=n_hosts)

    stream_dir = tmp_path / "frontier_stream"
    stream_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    s_eng = CrawlEngine(spark, str(tmp_path / "stream_store"))
    b_eng = CrawlEngine(spark, str(tmp_path / "batch_store"))

    import glob as globmod
    import shutil

    for i, drop in enumerate(drops):
        # the file-stream source lists FILES in the watched dir (no recursion):
        # land each drop as a single parquet file, not a directory
        tmp_out = tmp_path / f"drop_tmp{i}"
        frontier_df(drop).coalesce(1).write.parquet(str(tmp_out))
        part = globmod.glob(str(tmp_out / "part-*.parquet"))[0]
        shutil.move(part, str(stream_dir / f"drop{i}.parquet"))
        streaming_crawl_rounds(
            s_eng, str(stream_dir), hosts, simulated_fetcher(corpus), ckpt,
            bloom_params=params, mode="discover",
        )
        b_eng.crawl_round(
            frontier_df(drop), hosts, simulated_fetcher(corpus), i,
            bloom_params=params, mode="discover",
        )

    assert s_eng.store.committed_rounds() == b_eng.store.committed_rounds() == [0, 1]
    for rnd in (0, 1):
        sf = {r.url_c for r in s_eng.store.read("fetched", as_of=rnd)
              .where(f"crawl_id = {rnd}").collect()}
        bf = {r.url_c for r in b_eng.store.read("fetched", as_of=rnd)
              .where(f"crawl_id = {rnd}").collect()}
        assert sf == bf, f"round {rnd}"
    sv = {r.doc_id for r in s_eng.visible_docs().collect()}
    bv = {r.doc_id for r in b_eng.visible_docs().collect()}
    assert sv == bv

    # drained re-run: nothing new to process, nothing committed
    streaming_crawl_rounds(
        s_eng, str(stream_dir), hosts, simulated_fetcher(corpus), ckpt,
        bloom_params=params, mode="discover",
    )
    assert s_eng.store.committed_rounds() == [0, 1]


def test_streaming_url_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark on url_c must collapse duplicates both
    inside one micro-batch (including canonical-form dupes that differ only
    in query-param order) and across micro-batches sharing a checkpoint."""
    from dataset_crawler_spark.streaming.stream import streaming_url_dedup

    src = tmp_path / "events"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def drop(n_file, rows):
        spark.createDataFrame(rows, FETCH_EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"batch{n_file}"))

    def run():
        stream = spark.readStream.schema(FETCH_EVENT_SCHEMA).option(
            "maxFilesPerTrigger", 1
        ).parquet(str(src) + "/batch*")
        q = (
            streaming_url_dedup(stream, watermark="10 minutes")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    u = "http://hostA.example.org/p"
    batch1 = [
        (f"{u}?b=2&a=1", "hostA", t0, "success", 1),
        (f"{u}?a=1&b=2", "hostA", t0 + dt.timedelta(seconds=5), "success", 1),  # canon dupe
        ("http://hostB.example.org/q", "hostB", t0, "success", 1),
    ]
    drop(1, batch1)
    run()

    # cross-batch dupe within the watermark horizon + one genuinely new URL
    batch2 = [
        (f"{u}?a=1&b=2", "hostA", t0 + dt.timedelta(minutes=1), "success", 1),
        ("http://hostC.example.org/r", "hostC", t0 + dt.timedelta(minutes=1), "success", 1),
    ]
    drop(2, batch2)
    run()

    got = sorted(r.url_c for r in spark.read.parquet(str(out)).collect())
    assert got == [
        "http://hosta.example.org/p?a=1&b=2",
        "http://hostb.example.org/q",
        "http://hostc.example.org/r",
    ]


def test_stateful_host_budget_across_batches(spark, tmp_path):
    """The applyInPandasWithState gate must carry per-host admitted counts
    across micro-batches: 4 admitted in batch 1 + budget 5 ⇒ only 1 more in
    batch 2, regardless of how many arrive."""
    from dataset_crawler_spark.streaming.stream import stateful_host_budget

    src = tmp_path / "events"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def drop(n_file, rows):
        spark.createDataFrame(rows, FETCH_EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"batch{n_file}"))

    batch1 = [(f"a{i}", "hostA", t0 + dt.timedelta(seconds=i), "success", 1) for i in range(4)]
    batch1 += [(f"b{i}", "hostB", t0 + dt.timedelta(seconds=i), "success", 1) for i in range(2)]
    drop(1, batch1)

    stream = spark.readStream.schema(FETCH_EVENT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/batch*")
    admitted = stateful_host_budget(stream, budget=5)
    q = (
        admitted.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch2 = [(f"a{i}", "hostA", t0 + dt.timedelta(minutes=1, seconds=i), "success", 1)
              for i in range(3)]
    drop(2, batch2)
    q = (
        stateful_host_budget(
            spark.readStream.schema(FETCH_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/batch*"),
            budget=5,
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))  # same checkpoint: state resumes
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    res = spark.read.parquet(str(out))
    by_host = {r["host"]: r["n"] for r in res.groupBy("host").count().withColumnRenamed("count", "n").collect()}
    assert by_host["hostA"] == 5  # 4 from batch 1 + exactly 1 from batch 2
    assert by_host["hostB"] == 2
    cums = sorted(r.cum_admitted for r in res.where("host = 'hostA'").collect())
    assert cums == [1, 2, 3, 4, 5]


def test_streaming_self_feeding_closure(spark, tmp_path):
    """feed_discoveries=True makes the frontier stream self-feeding: each
    availableNow drain crawls one link-graph generation and writes the next
    generation's drop; repeated invocation reaches the same closure as the
    batch crawl_closure loop, and the drained final invocation commits
    nothing new."""
    from dataset_crawler_spark.operators import seen as SN
    from dataset_crawler_spark.streaming.rounds import (
        CrawlEngine,
        simulated_fetcher,
        streaming_crawl_rounds,
    )

    def u(name):
        return f"https://h.example.org/d/{name}"

    def doc(name, links):
        spans = [("link", None, u(t), i) for i, t in enumerate(links)]
        spans.append(("text", f"body {name}", None, len(spans)))
        return (u(name), spans)

    corpus = spark.createDataFrame(
        [doc("a", ["b", "c"]), doc("b", ["c", "d"]), doc("c", ["a"]),
         doc("d", []), doc("e", ["a"])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    hosts = spark.createDataFrame(
        [("h.example.org", 10, 100, [], True)],
        "host string, crawl_delay_ms int, max_fetch_per_round int, "
        "robots_disallow array<string>, is_available boolean",
    )
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    spark.createDataFrame(
        [(u("a"), "h.example.org", 1.0, 0, 0, "pending")],
        "url string, host string, priority double, discovered_crawl_id int, "
        "seed_rank int, state string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "seed_stage"))
    import glob as globmod
    import shutil

    (part,) = globmod.glob(str(tmp_path / "seed_stage" / "part-*.parquet"))
    shutil.move(part, str(stream_dir / "seeds.parquet"))

    eng = CrawlEngine(spark, str(tmp_path / "store"))
    params = SN.BloomParams.for_capacity(64, fp_rate=0.01, n_shards=4)
    for _ in range(6):
        before = eng.store.last_round()
        streaming_crawl_rounds(
            eng, str(stream_dir), hosts, simulated_fetcher(corpus),
            checkpoint=str(tmp_path / "ckpt"), bloom_params=params,
            feed_discoveries=True,
        )
        if eng.store.last_round() == before:
            break  # drained: no batch committed a round — streaming closure
    fetched = sorted(r.url_c for r in eng.store.read("fetched").collect())
    assert fetched == sorted({u("a"), u("b"), u("c"), u("d")})
    # BFS generations match the batch crawl_closure loop ([1, 2, 1]); the
    # batch loop's explicit zero-scheduled verification round has no
    # streaming twin — closure manifests as the drained stream instead
    per_round = [r["stats"]["fetched"] for r in eng.store.manifest()["rounds"]]
    assert per_round == [1, 2, 1]
    assert all(r["stats"]["scheduled"] == r["stats"]["fetched"]
               for r in eng.store.manifest()["rounds"])
