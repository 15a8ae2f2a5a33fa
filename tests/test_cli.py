"""CLI subcommands end-to-end: synthetic smoke, live crawl against the
loopback server (robots → schedule → HTTP fetch → discovery closure), and
WARC ingest — the spark-submit deployment surface."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dataset_crawler_spark.__main__ import main
from dataset_crawler_spark.sources.snapshots import SnapshotStore

# reuse the HTTP fixture server (robots.txt + sitemap + /doc endpoints)
from tests.test_http_fetch import _Handler  # noqa: F401
from tests.test_http_fetch import _doc_spans, server  # noqa: F401
from tests.test_warc import WARC_A


def test_cli_synthetic_backcompat(spark, tmp_path, capsys):
    # bare flags (no subcommand) must keep routing to the synthetic runner
    rc = main(["--rounds", "1", "--n-urls", "2000", "--n-hosts", "10",
               "--store", str(tmp_path / "s")])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["round"] == 0 and line["fetched"] > 0


def test_cli_synthetic_appends_rounds_to_existing_store(spark, tmp_path, capsys):
    # a second run on the same store continues at the next round instead of
    # overwriting round 0
    store = str(tmp_path / "s")
    args = ["--rounds", "1", "--n-urls", "2000", "--n-hosts", "10", "--store", store]
    assert main(args) == 0
    assert main(args) == 0
    rounds = [json.loads(x)["round"] for x in capsys.readouterr().out.strip().splitlines()]
    assert rounds == [0, 1]
    st = SnapshotStore(store, spark)
    assert st.committed_rounds() == [0, 1]
    fetched = [{r.url_c for r in st.read("fetched").where(F.col("crawl_id") == rid).collect()}
               for rid in (0, 1)]
    assert fetched[0] and not (fetched[0] & fetched[1])  # round 1 saw round 0's seen set


def test_cli_crawl_live(spark, tmp_path, server, capsys):
    store = str(tmp_path / "live")
    rc = main([
        "crawl",
        "--seed-url", f"{server}/doc/0",
        "--seed-url", f"{server}/doc/1",
        "--store", store, "--rounds", "2", "--timeout", "5",
    ])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["scheduled"] == 2 and lines[0]["fetched"] == 2

    st = SnapshotStore(store, spark)
    got = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
           for r in st.read("versions", as_of=lines[-1]["round"]).collect()}
    for i in (0, 1):
        want = [(d["kind"], d["text"], d["media_ref"], d["offset"])
                for d in _doc_spans(i)]
        assert got[f"{server}/doc/{i}"] == want


def test_cli_crawl_resumed_store_prints_store_round_ids(spark, tmp_path, server, capsys):
    # a second crawl on the same store continues at the store's next round;
    # the printed round ids are the committed ones, not the loop index
    store = str(tmp_path / "resumed")
    args = ["crawl", "--seed-url", f"{server}/doc/0",
            "--store", store, "--rounds", "1", "--timeout", "5"]
    assert main(args) == 0
    assert main(args) == 0
    rounds = [json.loads(x)["round"] for x in capsys.readouterr().out.strip().splitlines()]
    assert rounds == SnapshotStore(store, spark).committed_rounds() == [0, 1]


def test_cli_crawl_requires_seeds(capsys):
    assert main(["crawl"]) == 2


def test_cli_ingest_warc(spark, tmp_path, capsys):
    p = tmp_path / "a.warc"
    p.write_text(WARC_A)
    store = str(tmp_path / "warcstore")
    rc = main(["ingest-warc", "--path", str(p), "--store", store])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["added"] == 2  # the two 2xx responses

    st = SnapshotStore(store, spark)
    docs = {r.doc_id for r in st.read("versions", as_of=0).collect()}
    assert docs == {"http://ex.org/page1", "http://ex.org/img7"}


def test_cli_export_shards_closes_the_loop(spark, tmp_path, capsys):
    """crawl store → training artifact in one subcommand: synthetic rounds
    populate a store, export-shards flattens the visible interleaved docs
    (text spans in offset order), packs them, writes shards + manifest, and
    the artifact verifies and covers exactly the visible corpus."""
    from dataset_crawler_spark.sources.training_export import (
        read_training_shards,
        verify_manifest,
    )
    from dataset_crawler_spark.streaming.rounds import CrawlEngine

    store = str(tmp_path / "s")
    assert main(["--rounds", "2", "--n-urls", "2000", "--n-hosts", "10",
                 "--store", store]) == 0
    out = str(tmp_path / "corpus")
    rc = main(["export-shards", "--store", store, "--out", out,
               "--n-shards", "4", "--bin-tokens", "256"])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["as_of"] == 1 and line["n_shards"] == 4

    verify_manifest(spark, out)
    back = read_training_shards(spark, out)
    eng = CrawlEngine(spark, store)
    visible = {r.doc_id for r in eng.visible_docs(1).select("doc_id").collect()}
    assert {r.doc_id for r in back.select("doc_id").collect()} == visible
    assert line["n_docs"] == len(visible)
    # flattened text is the doc's text spans in offset order
    one = back.where(F.length("text") > 0).limit(1).collect()[0]
    spans = eng.visible_docs(1).where(F.col("doc_id") == one.doc_id).collect()[0].spans
    want = " ".join(s.text for s in sorted(spans, key=lambda s: s.offset)
                    if s.kind == "text")
    assert one.text == want

    # the removal gate is wired through the flag: cleaned export still
    # verifies and ships every visible doc (the planted-duplicate semantics
    # are pinned in test_training_export; this pins the CLI plumbing)
    out_d = str(tmp_path / "corpus_dedup")
    rc = main(["export-shards", "--store", store, "--out", out_d,
               "--n-shards", "4", "--bin-tokens", "256",
               "--dedup-substring", "8"])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["n_docs"] == len(visible)
    verify_manifest(spark, out_d)

    # empty store is a clean error, not a stack trace
    assert main(["export-shards", "--store", str(tmp_path / "nope"),
                 "--out", str(tmp_path / "x")]) == 2


def test_cli_export_warc_closes_the_loop(spark, tmp_path, capsys):
    """crawl store → archival artifact: synthetic rounds populate a store,
    export-warc writes ISO 28500 response records, and ingest-warc on the
    OUTPUT reconstructs the same visible doc set — the full
    crawl → archive → re-ingest cycle through two different stores."""
    from dataset_crawler_spark.streaming.rounds import CrawlEngine

    store = str(tmp_path / "s")
    assert main(["--rounds", "1", "--n-urls", "1000", "--n-hosts", "10",
                 "--store", store]) == 0
    out = str(tmp_path / "archive")
    rc = main(["export-warc", "--store", store, "--out", out, "--n-files", "2",
               "--warc-date", "2026-03-04T05:06:07Z"])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    eng = CrawlEngine(spark, store)
    visible = {r.doc_id for r in eng.visible_docs(0).select("doc_id").collect()}
    assert line["n_records"] == len(visible) and line["n_files"] == 2

    store2 = str(tmp_path / "reingest")
    assert main(["ingest-warc", "--path", out + "/part-*", "--store", store2]) == 0
    st = SnapshotStore(store2, spark)
    assert {r.doc_id for r in st.read("versions", as_of=0).collect()} == visible

    # empty store is a clean error, not a stack trace
    assert main(["export-warc", "--store", str(tmp_path / "nope2"),
                 "--out", str(tmp_path / "y")]) == 2


def test_cli_crawl_then_refresh_revalidates(spark, tmp_path, server, capsys):
    """The full validator lifecycle across subcommands: `crawl --conditional`
    CAPTURES validators during discovery; `refresh` schedules by Poisson
    staleness and revalidates — unchanged docs come back 304 (not_modified,
    zero body), a server-side change is refetched and diffed as updated,
    and nothing is ever deleted by a budget-cut refresh."""
    store = str(tmp_path / "refresh_store")
    rc = main([
        "crawl",
        "--seed-url", f"{server}/cond/0",
        "--seed-url", f"{server}/cond/1",
        "--seed-url", f"{server}/cond/2",
        "--store", store, "--rounds", "1", "--timeout", "5", "--conditional",
    ])
    assert rc == 0
    capsys.readouterr()

    _Handler.COND_VERSIONS["/cond/1"] = 2
    try:
        rc = main(["refresh", "--store", store, "--rounds", "1", "--timeout", "5"])
    finally:
        _Handler.COND_VERSIONS.pop("/cond/1", None)
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["not_modified"] == 2      # two unchanged → 304, zero body
    assert line["fetched"] == 1           # the changed doc moved a body
    assert line["updated"] == 1 and line["deleted"] == 0
