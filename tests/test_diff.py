"""Change-capture engine vs the pure-Python crawler oracle (SURVEY.md §5.1, §5.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataset_crawler_spark import datagen
from dataset_crawler_spark.operators import diff as D
from dataset_crawler_spark.operators import state as S
from dataset_crawler_spark.oracle.crawler_oracle import CrawlerOracle, span_ops_for_doc
from dataset_crawler_spark.schemas import SPAN

N_DOCS = 400
N_HOSTS = 20

STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
        T.StructField("last_op", T.StringType()),
        T.StructField("last_crawl_id", T.IntegerType()),
    ]
)


def empty_state(spark):
    return spark.createDataFrame([], STATE_SCHEMA)


def collect_lineage(lineage_df):
    out = {}
    for r in lineage_df.collect():
        out[r.doc_id] = (r.op, [(o.kind, o.offset, o.op) for o in r.span_ops])
    return out


def chain_rounds(spark, lives, resurrect=False):
    """Diff each round's live snapshot against the state the engine folds
    from the accumulated logs (``S.state_table_as_of``, as
    ``CrawlEngine.state_as_of`` does). Yields (lineage, lineage ∪ earlier,
    versions ∪ earlier) per round."""
    lin = ver = None
    for rnd, live in enumerate(lives):
        state = empty_state(spark) if lin is None else S.state_table_as_of(lin, ver, rnd - 1)
        lineage = D.snapshot_diff(state, live, rnd, resurrect=resurrect).cache()
        versions = S.versions_from_round(live, lineage, rnd)
        lin = lineage if lin is None else lin.unionByName(lineage)
        ver = versions if ver is None else ver.unionByName(versions)
        yield lineage, lin, ver


def run_engine_rounds(spark, rounds, resurrect=False):
    lives = [datagen.documents_for_round_local(spark, N_DOCS, rnd, n_hosts=N_HOSTS) for rnd in rounds]
    per_round = []
    for lineage, lin, ver in chain_rounds(spark, lives, resurrect=resurrect):
        per_round.append(collect_lineage(lineage))
    return per_round, lin, ver


def visible(df):
    return {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] for r in df.collect()}


def run_oracle_rounds(rounds, resurrect=False):
    o = CrawlerOracle(resurrect=resurrect)
    per_round = []
    for rnd in rounds:
        live = dict(datagen.documents_for_round_py(N_DOCS, rnd, n_hosts=N_HOSTS))
        per_round.append(o.run_round(live, rnd))
    return o, per_round


def test_diff_random_corpora_match_oracle_hypothesis(spark):
    """Adversarial property test: random multi-round corpora — duplicate
    spans (multi-valued properties), permuted array-vs-offset order, null
    text/media, empty span lists, doc appearance/disappearance/resurrection —
    through the REAL snapshot_diff / state_table_as_of chain must produce
    lineage identical to the pure-Python oracle in both tombstone modes."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    span_content = st.tuples(
        st.sampled_from(["text", "media", "meta"]),
        st.sampled_from([None, "a", "b"]),
        st.sampled_from([None, "m1"]),
    )

    @st.composite
    def doc_spans(draw):
        contents = draw(st.lists(span_content, min_size=0, max_size=5))
        offsets = draw(st.permutations(range(len(contents))))
        return [(k, t, m, o) for (k, t, m), o in zip(contents, offsets)]

    corpus = st.dictionaries(
        st.sampled_from([f"d{i}" for i in range(6)]), doc_spans(), max_size=6
    )
    rounds_strategy = st.lists(corpus, min_size=2, max_size=3)

    def to_df(live: dict):
        return spark.createDataFrame(
            [(d, s) for d, s in sorted(live.items())],
            T.StructType(
                [T.StructField("doc_id", T.StringType()), T.StructField("spans", T.ArrayType(SPAN))]
            ),
        )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
    )
    @given(rounds=rounds_strategy, resurrect=st.booleans())
    def check(rounds, resurrect):
        oracle = CrawlerOracle(resurrect=resurrect)
        lives = [to_df(live) for live in rounds]
        chain = chain_rounds(spark, lives, resurrect=resurrect)
        for rnd, (live, (lineage, _, _)) in enumerate(zip(rounds, chain)):
            got = collect_lineage(lineage)
            want = oracle.run_round(live, rnd)
            assert got == want, f"round {rnd} resurrect={resurrect}"

    check()


@pytest.mark.parametrize("resurrect", [False, True])
def test_lineage_matches_oracle(spark, resurrect):
    engine_rounds, _, _ = run_engine_rounds(spark, [0, 1, 2], resurrect=resurrect)
    _, oracle_rounds = run_oracle_rounds([0, 1, 2], resurrect=resurrect)
    for rnd, (got, want) in enumerate(zip(engine_rounds, oracle_rounds)):
        assert set(got) == set(want), f"round {rnd}: doc sets differ"
        for d in want:
            assert got[d] == want[d], f"round {rnd}: {d}: {got[d]} != {want[d]}"


def test_final_state_span_sequences_match(spark):
    _, lineage, versions = run_engine_rounds(spark, [0, 1, 2])
    oracle, _ = run_oracle_rounds([0, 1, 2])
    # per-row invariant: span-sequence equality
    assert visible(S.reconstruct_as_of(lineage, versions, 2)) == oracle.visible_docs()


def test_diff_self_is_empty(spark):
    live = datagen.documents_for_round_local(spark, N_DOCS, 0, n_hosts=N_HOSTS)
    lineage0 = D.snapshot_diff(empty_state(spark), live, 0)
    state0 = S.state_table_as_of(lineage0, S.versions_from_round(live, lineage0, 0), 0)
    again = D.snapshot_diff(state0, live, 1)
    assert again.count() == 0


def test_reconstruction_equals_incremental_state(spark):
    """At every round, the visible part of the state the next diff reads
    (state_table_as_of) equals the as-of snapshot (reconstruct_as_of), and
    both equal an oracle stopped at that round."""
    _, lineage, versions = run_engine_rounds(spark, [0, 1, 2])
    oracle = CrawlerOracle()
    for rnd in (0, 1, 2):
        oracle.run_round(dict(datagen.documents_for_round_py(N_DOCS, rnd, n_hosts=N_HOSTS)), rnd)
        state = S.state_table_as_of(lineage, versions, rnd).where(F.col("last_op") != "deleted")
        rebuilt = S.reconstruct_as_of(lineage, versions, rnd)
        assert visible(state) == visible(rebuilt) == oracle.visible_docs(), f"as_of={rnd}"


def test_span_ops_explode_matches_oracle(spark):
    """The explode/shuffle span diff equals the oracle's per-doc occurrence
    diff — on docs of up to 300 spans, with duplicate spans and shuffled,
    out-of-order span arrays."""
    import random

    rng = random.Random(42)
    rows = []
    for d in range(30):
        n = rng.choice([3, 9, 40, 300])
        base = [
            ("text" if i % 3 else "link",
             f"tok{rng.randrange(5)}" if i % 3 else None,
             None if i % 3 else f"https://t/{rng.randrange(5)}",
             i)
            for i in range(n)
        ]
        live = [s for s in base if rng.random() > 0.2]
        live += [("text", f"new{i}", None, n + i) for i in range(rng.randrange(3))]
        rng.shuffle(live)  # out-of-order arrays must not change occ ranks
        live = [(k, t, m, i) for i, (k, t, m, _) in enumerate(live)]
        rng.shuffle(live)
        rows.append((f"d{d}", base, live))
    changed = spark.createDataFrame(
        rows,
        "doc_id string, prev_spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, live_spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>",
    )
    got = {
        r.doc_id: [(o.kind, o.offset, o.op) for o in r.span_ops]
        for r in D.span_ops_for_changed(changed).collect()
    }
    want = {d: span_ops_for_doc(base, live) for d, base, live in rows}
    assert sum(1 for ops in want.values() if ops) > 1
    for d, ops in want.items():
        assert got.get(d, []) == ops, d


def test_tombstone_resurrection_semantics(spark):
    """Faithful mode: resurrected docs emit no lineage and stay invisible."""
    engine_rounds, _, _ = run_engine_rounds(spark, [0, 1, 2], resurrect=False)
    r0, r1, r2 = engine_rounds
    deleted_r1 = {d for d, (op, _) in r1.items() if op == "deleted"}
    live_r2 = {d for d, _ in datagen.documents_for_round_py(N_DOCS, 2, n_hosts=N_HOSTS)}
    resurrected = deleted_r1 & live_r2
    assert resurrected, "fixture must contain tombstone resurrections"
    assert not (resurrected & set(r2)), "faithful mode: no lineage for resurrections"
