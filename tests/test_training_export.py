"""Training-shard export: the packing plan, the shard sink's round trip and
manifest check, and exact-substring removal in front of the export, end to
end into the artifact."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataset_crawler_spark.functions.hashing import h60_py


def _corpus(spark, n=500):
    """(doc_id, text) docs of 1-300 tokens, so every shard packs several bins."""
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 101}" for j in range(1 + (i * 37) % 300)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_token_bins_matches_python_twin(spark):
    from dataset_crawler_spark.sources.training_export import pack_assignments

    n_shards, budget = 8, 2048
    docs = _corpus(spark)
    shards: dict[int, list] = {}
    for r in docs.select("doc_id", "text").collect():
        shards.setdefault(h60_py(str(r.doc_id)) % n_shards, []).append(
            (r.doc_id, len(r.text.split(" ")))
        )
    want = set()
    for shard, rows in shards.items():
        cum = 0
        for doc_id, n_tok in sorted(rows):
            want.add((shard, doc_id, n_tok, cum // budget))
            cum += n_tok
    got = {
        (r.shard, r.doc_id, r.n_tokens, r.bin_id)
        for r in pack_assignments(docs, n_shards, budget).collect()
    }
    assert got == want
    # packing invariant: bin ids within a shard are contiguous from 0
    by_shard: dict[int, set] = {}
    for s, _, _, b in got:
        by_shard.setdefault(s, set()).add(b)
    for bins in by_shard.values():
        assert bins == set(range(max(bins) + 1))


def test_training_shard_export_roundtrip(spark, tmp_path):
    """The export sink materializes pack_assignments' layout faithfully:
    every doc lands exactly once with its text, per-(shard, bin) token sums
    equal the assignment plan, the manifest verifies, and a re-export is
    content-identical (deterministic artifact). A corrupted copy (one shard
    dir dropped) must fail verify_manifest."""
    import os
    import shutil as _sh

    from dataset_crawler_spark.sources.training_export import (
        pack_assignments,
        read_training_shards,
        verify_manifest,
        write_training_shards,
    )

    docs = _corpus(spark)
    plan = pack_assignments(docs)
    out = str(tmp_path / "export")
    summary = write_training_shards(docs, plan, out)
    assert summary["n_docs"] == docs.count()

    back = read_training_shards(spark, out)
    assert back.count() == summary["n_docs"]
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }
    # per-(shard, bin) token sums match the assignment plan exactly
    key = lambda df: {  # noqa: E731
        (r.shard, r.bin_id): r.s
        for r in df.groupBy("shard", "bin_id")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    }
    assert key(back) == key(plan)
    # text round-trips
    one = back.limit(1).collect()[0]
    src = docs.where(F.col("doc_id") == one.doc_id).collect()[0]
    assert one.text == src.text
    verify_manifest(spark, out)

    # determinism: second export has identical content
    out2 = str(tmp_path / "export2")
    write_training_shards(docs, plan, out2)
    b2 = read_training_shards(spark, out2)
    assert back.exceptAll(b2).unionByName(b2.exceptAll(back)).count() == 0

    # integrity: dropping a shard dir must be caught
    shard_dirs = [p for p in os.listdir(f"{out}/shards") if p.startswith("shard=")]
    _sh.rmtree(f"{out}/shards/{shard_dirs[0]}")
    try:
        verify_manifest(spark, out)
        raise AssertionError("verify_manifest accepted a corrupted artifact")
    except ValueError:
        pass


def test_substring_removal_export_no_dup_window_survives(spark, tmp_path):
    """Lee et al. §4 end to end: plant exact duplicated runs across docs,
    run the removal gate, export the cleaned corpus through the shard sink,
    and re-scan the ARTIFACT — no k-token window may occur twice, the
    global first occurrence survives intact, every non-winner occurrence is
    cut, and the manifest verifies on the cleaned totals."""
    from dataset_crawler_spark.operators import substr as SUB
    from dataset_crawler_spark.sources.training_export import (
        pack_assignments,
        read_training_shards,
        verify_manifest,
        write_training_shards,
    )

    K = 8
    run = " ".join(f"d{i}" for i in range(12))  # the planted 12-token run
    docs = spark.createDataFrame(
        [
            (0, f"a0 a1 a2 {run} a3 a4 a5"),        # winner (first occurrence)
            (1, f"b0 b1 {run} b2 b3"),               # dup: run must be cut
            (2, f"c0 c1 c2 c3 c4 {run}"),            # dup at tail: cut
            (3, "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9"),    # unique: untouched
        ],
        "doc_id long, text string",
    )
    cleaned = SUB.remove_duplicate_substrings(docs, k=K)
    out = str(tmp_path / "export")
    summary = write_training_shards(
        cleaned, pack_assignments(cleaned, n_shards=2, budget=16), out
    )
    assert summary["n_docs"] == 4
    verify_manifest(spark, out)

    back = read_training_shards(spark, out)
    texts = {r.doc_id: r.text for r in back.collect()}
    assert texts[0] == f"a0 a1 a2 {run} a3 a4 a5"  # winner keeps the run
    assert "d0" not in texts[1] and texts[1] == "b0 b1 b2 b3"
    assert texts[2] == "c0 c1 c2 c3 c4"
    assert texts[3] == "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9"

    # the artifact-level guarantee: no duplicated k-token window survives
    rescan = SUB.window_hashes(back.select("doc_id", "text"), K)
    worst = (
        rescan.groupBy("h").count().agg(F.max("count").alias("m")).collect()[0].m
    )
    assert worst == 1




def _substr_stats(spark, texts, k=8):
    """doc_id -> (n_tokens, n_dup_spans, n_dup_tokens, dup_token_frac) of the
    batch ExactSubstr stages (window_hashes → duplicated_starts →
    merge_spans) that remove_duplicate_substrings runs, over an inline
    corpus with doc_id = list position."""
    from dataset_crawler_spark.operators import substr as SUB

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    spans = SUB.merge_spans(SUB.duplicated_starts(SUB.window_hashes(docs, k)), k)
    per_doc = {
        r.doc_id: (r.n, r.tok)
        for r in spans.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum(F.col("e") - F.col("s")).alias("tok"))
        .collect()
    }
    out = {}
    for i, t in enumerate(texts):
        n_tok = len(t.split(" "))
        n_sp, n_dup = per_doc.get(i, (0, 0))
        out[i] = (n_tok, n_sp, n_dup, round(n_dup / n_tok, 4))
    return out


def test_substring_exact_dedup_alignment_free(spark):
    """ExactSubstr, the case stride-k chunking cannot see: a 12-token shared
    run sitting at DIFFERENT phases mod 4 in the two documents is marked in
    full by the stride-1 windows and merged into one maximal span. Plus:
    full-copy doc (frac 1.0), two separated runs (two spans), and a doc
    shorter than the window (no windows, frac 0.0)."""
    t = [f"t{i}" for i in range(20)]
    rows = [
        " ".join(t),                                       # 0: unique base
        " ".join(["x0", "x1"] + t[3:15] + ["y0", "y1"]),   # 1: run at phase 2 vs 3
        " ".join(t),                                       # 2: exact copy of 0
        " ".join(t[0:9] + [f"u{i}" for i in range(5)] + t[10:19]),  # 3: two runs
        "s0 s1 s2",                                        # 4: shorter than k
    ]
    got = _substr_stats(spark, rows)

    assert got[0] == (20, 0, 0, 0.0)
    # doc 1: windows at starts 2..6 all duplicated → one merged span [2, 14)
    assert got[1] == (16, 1, 12, 0.75)
    assert got[2] == (20, 1, 20, 1.0)
    # doc 3: spans [0, 9) and [14, 23) — 9 tokens each
    assert got[3] == (23, 2, 18, round(18 / 23, 4))
    assert got[4] == (3, 0, 0, 0.0)


def test_substring_exact_dedup_hypothesis_vs_python_twin(spark):
    """Property: on arbitrary small-alphabet corpora (forcing heavy window
    collisions, nested/adjacent/overlapping duplicate runs), the stages
    match a from-first-principles Python implementation of the spec:
    every k-window keyed by CONTENT, one global winner under (doc_id, i),
    other occurrences merged into maximal spans."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    k = 8
    doc = st.lists(st.sampled_from("ab"), min_size=1, max_size=3 * k)

    def python_twin(token_lists):
        windows = {}  # content -> list[(doc, i)] in (doc, i) order
        for d_id, t in enumerate(token_lists):
            for i in range(len(t) - k + 1):
                windows.setdefault(tuple(t[i : i + k]), []).append((d_id, i))
        marked = {}
        for occ in windows.values():
            if len(occ) > 1:
                for d_id, i in occ[1:]:  # occ is already in (doc, i) order
                    marked.setdefault(d_id, set()).add(i)
        out = {}
        for d_id, t in enumerate(token_lists):
            spans, cur = [], None
            for i in sorted(marked.get(d_id, ())):
                if cur and i < cur[1]:
                    cur[1] = max(cur[1], i + k)
                else:
                    cur = [i, i + k]
                    spans.append(cur)
            n_dup = sum(e - s for s, e in spans)
            out[d_id] = (len(t), len(spans), n_dup, round(n_dup / len(t), 4))
        return out

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(doc, min_size=1, max_size=8))
    def check(token_lists):
        got = _substr_stats(spark, [" ".join(t) for t in token_lists], k)
        assert got == python_twin(token_lists)

    check()
