"""Tests of the benchmark itself, at the tiny input scale.

    python3 -m pytest crawlbench -q

One Spark session serves the module. The frontier workload runs once, traced,
and its store is then copied and corrupted to show that the output checks
catch a dropped lineage row and a URL fetched twice.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run as bench  # noqa: E402
import tracing  # noqa: E402

SEED = 3


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    """A session of its own: the environment is restored and the JVM stopped
    afterwards, so a later ``get_spark`` in the same process starts afresh."""
    saved = dict(os.environ)
    dirs = bench.fresh_dirs(str(tmp_path_factory.mktemp("spark")))
    bench.spark_env(dirs)
    session = bench.start_spark({"cores": 2, "shuffle_partitions": 2, "driver_memory_mb": 1024}, dirs)
    try:
        yield session
    finally:
        bench.stop_spark(session)
        os.environ.clear()
        os.environ.update(saved)


def tiny_run(spark, workload: str, root, trace: bool):
    inputs, meta = gen.ensure_inputs(workload, SEED, "tiny", str(root / "inputs"))
    tracer = tracing.Tracer(spark) if trace else tracing.NullTracer()
    tracer.install()
    try:
        wl = bench.WORKLOADS[workload](spark, tracer, inputs, meta, str(root / "store"))
        crawled = bench.crawl(wl, 1, 3)
        back = bench.read_back(wl, len(crawled["stats"]) - 1, str(root / "export"))
    finally:
        tracer.uninstall()
    return wl, crawled, back, tracer


@pytest.fixture(scope="module")
def frontier(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("frontier")
    return (root, *tiny_run(spark, "frontier", root, trace=True))


def test_frontier_tiny_passes_checks(frontier):
    root, wl, crawled, back, _ = frontier
    assert len(crawled["stats"]) == 3
    assert not any(bench.verify(wl, crawled, back, str(root / "export"), wl.discovered_counts()).values())
    expected = wl.meta["rounds"]
    assert [s["fetched"] for s in crawled["stats"]] == [e["fetched"] for e in expected[:3]]
    assert back["export"]["n_docs"] == sum(e["added"] for e in expected[:3])


def test_recrawl_tiny_passes_checks(spark, tmp_path):
    wl, crawled, back, _ = tiny_run(spark, "recrawl", tmp_path, trace=False)
    assert not any(bench.verify(wl, crawled, back, str(tmp_path / "export"), wl.discovered_counts()).values())
    stats = crawled["stats"]
    assert stats[1]["added"] > 0 and stats[1]["deleted"] > 0
    assert all(s["updated"] > 0 for s in stats[1:])
    assert sorted(back["asof"]) == [1, 2]


def corrupted_copy(spark, frontier, tmp_path):
    """A copy of the frontier run whose store lives under ``tmp_path``."""
    from dataset_crawler_spark.streaming.rounds import CrawlEngine

    _, wl, *_ = frontier
    store = str(tmp_path / "store")
    shutil.copytree(wl.engine.store.root, store)
    wl2 = copy.copy(wl)
    wl2.engine = CrawlEngine(spark, store)
    return wl2, store


def test_dropped_lineage_row_fails_its_round(spark, frontier, tmp_path):
    root, _, crawled, back, _ = frontier
    wl, store = corrupted_copy(spark, frontier, tmp_path)
    part = os.path.join(store, "lineage", "crawl_id=1")
    rows = spark.read.parquet(part)
    n = rows.count()
    rows.limit(n - 1).write.parquet(part + ".tmp")
    shutil.rmtree(part)
    os.rename(part + ".tmp", part)
    failures = bench.verify(wl, crawled, back, str(root / "export"), wl.discovered_counts())
    assert failures[1]
    assert not failures.get(0) and not failures.get(2)


def test_duplicate_fetched_url_fails_its_round(spark, frontier, tmp_path):
    root, _, crawled, back, _ = frontier
    wl, store = corrupted_copy(spark, frontier, tmp_path)
    first = spark.read.parquet(os.path.join(store, "fetched", "crawl_id=0")).limit(1)
    first.write.mode("append").parquet(os.path.join(store, "fetched", "crawl_id=2"))
    failures = bench.verify(wl, crawled, back, str(root / "export"), wl.discovered_counts())
    assert any("fetched 2 times" in f for f in failures[2])


def test_traced_run_attributes_layers(frontier):
    _, wl, crawled, back, tracer = frontier
    per_round, means = bench.per_layer(wl, tracer, crawled, back, 1, wl.discovered_counts())
    assert len(per_round) == 2
    for layer in per_round:
        assert layer["rounds.jobs"] > 0 and layer["scheduler.jobs"] > 0 and layer["diff.jobs"] > 0
        assert layer["scheduler.busy_s"] > 0 and layer["fetch.busy_s"] > 0
        assert layer["seen.merge_s"] > 0 and layer["discovery.busy_s"] > 0
        assert layer["store.bytes_written"] > 0 and layer["seen.bloom_bytes"] > 0
        assert 0 < layer["rounds.self_s"] < sum(crawled["round_s"])
    assert set(means) >= set(bench.PER_LAYER)
    assert means["robots.hosts"] == gen.SIZES["tiny"]["frontier"]["hosts"]


def test_tracer_uninstall_restores_the_engine():
    from dataset_crawler_spark.operators import scheduler
    from dataset_crawler_spark.streaming.rounds import CrawlEngine

    before = (scheduler.schedule_round, CrawlEngine.__dict__["crawl_round"])

    class FakeContext:
        def setJobGroup(self, *a):
            pass

    class FakeSpark:
        sparkContext = FakeContext()

    t = tracing.Tracer(FakeSpark())
    t.install()
    assert scheduler.schedule_round is not before[0]
    t.uninstall()
    assert (scheduler.schedule_round, CrawlEngine.__dict__["crawl_round"]) == before


def test_inputs_depend_on_seed_and_generator(tmp_path):
    a = gen.build_frontier(1, "tiny")["expected"]
    assert a == gen.build_frontier(1, "tiny")["expected"]
    assert a != gen.build_frontier(2, "tiny")["expected"]
    path, _ = gen.ensure_inputs("recrawl", 1, "tiny", str(tmp_path))
    assert path.endswith(gen.source_hash())


def test_result_line_has_every_metric():
    record = {
        "warmup_rounds": 1,
        "timed_rounds": 2,
        "trace": 0,
        "metrics": {k: 1.0 for k in bench.END_TO_END} | {"rounds_ok_frac": 2 / 3},
    }
    line = bench.result_line(record)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 3, 1)
    assert set(line["metrics"]) == set(bench.END_TO_END)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(bench.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(bench.PER_LAYER)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "crawlbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", "frontier", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
