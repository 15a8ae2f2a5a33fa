"""Round loop: checkpoint/resume + idempotent replay (SURVEY.md §5.5, T6)."""

from __future__ import annotations

from dataset_crawler_spark import datagen
from dataset_crawler_spark.oracle.crawler_oracle import CrawlerOracle
from dataset_crawler_spark.streaming.rounds import CrawlEngine

N_DOCS = 250
N_HOSTS = 15


def _docs(spark, rnd):
    return datagen.documents_for_round_local(spark, N_DOCS, rnd, n_hosts=N_HOSTS)


def _visible(engine, as_of=None):
    return {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in engine.visible_docs(as_of).collect()
    }


def test_rounds_commit_and_match_oracle(spark, tmp_path):
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    oracle = CrawlerOracle()
    for rnd in (0, 1, 2):
        assert eng.next_round() == rnd
        eng.run_round(_docs(spark, rnd), rnd)
        oracle.run_round(dict(datagen.documents_for_round_py(N_DOCS, rnd, n_hosts=N_HOSTS)), rnd)
    assert eng.store.committed_rounds() == [0, 1, 2]
    assert _visible(eng) == oracle.visible_docs()
    # time travel: as-of round 0 ≡ an oracle stopped at round 0
    o0 = CrawlerOracle()
    o0.run_round(dict(datagen.documents_for_round_py(N_DOCS, 0, n_hosts=N_HOSTS)), 0)
    assert _visible(eng, as_of=0) == o0.visible_docs()


def test_resume_after_crash_is_byte_equal(spark, tmp_path):
    # uninterrupted run
    full = CrawlEngine(spark, str(tmp_path / "full"))
    for rnd in (0, 1, 2):
        full.run_round(_docs(spark, rnd), rnd)

    # crashed run: round 1's data written but never committed
    crash = CrawlEngine(spark, str(tmp_path / "crash"))
    crash.run_round(_docs(spark, 0), 0)
    live1 = _docs(spark, 1)
    from dataset_crawler_spark.operators import diff as D
    from dataset_crawler_spark.operators import state as S

    lineage1 = D.snapshot_diff(crash.state_as_of(0), live1, 1)
    crash.store.append("lineage", lineage1, 1)  # data on disk, no manifest commit
    assert crash.store.committed_rounds() == [0]

    # resume: engine re-runs round 1 (idempotent overwrite), then round 2
    resumed = CrawlEngine(spark, str(tmp_path / "crash"))
    assert resumed.next_round() == 1
    resumed.run_round(_docs(spark, 1), 1)
    resumed.run_round(_docs(spark, 2), 2)
    assert _visible(resumed) == _visible(full)


def test_replay_round_is_idempotent(spark, tmp_path):
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    eng.run_round(_docs(spark, 0), 0)
    s1 = eng.run_round(_docs(spark, 1), 1)
    before = _visible(eng)
    s1_replay = eng.run_round(_docs(spark, 1), 1)  # replay same round
    assert {k: s1[k] for k in ("added", "updated", "deleted")} == {
        k: s1_replay[k] for k in ("added", "updated", "deleted")
    }
    assert _visible(eng) == before
