"""In-memory span tracer for the traced benchmark run.

Spans are recorded around calls into the engine's layers, from this file
only: the tracer replaces a few public functions and methods with thin
wrappers for the life of the process (nothing in the engine is edited).
Spark is lazy, so a span around ``schedule_round()`` alone would time only
plan building. Each wrapped layer function therefore tags the DataFrame it
returns with its layer name, and the DataFrame actions are wrapped so that
an action on a tagged frame opens a span of that layer. A write is named
after the layer that built the frame being appended. Untagged actions run
inside, and count towards, the enclosing span.

A tag does not survive a transformation. The frames that
``SnapshotStore.read`` and ``CrawlEngine.seen_urls_as_of`` return are mostly
joined into a larger plan, so ``store.read_s`` and the exact-seen part of
``seen.read_s`` are plan building and file listing plus any action taken on
the returned frame itself; the scan I/O of a read joined into another plan
counts in the layer whose action runs that plan. ``bloom_as_of`` runs its
own action, so its read I/O is in ``seen.read_s``.

Every span sets its own Spark job group, so the jobs of a span are an exact
count (``statusTracker().getJobIdsForGroup``). Spans are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from collections import defaultdict

TAG = "_crawlbench_layer"

#: DataFrame actions that execute a plan
ACTIONS = ("count", "collect", "first", "take", "head", "isEmpty", "toPandas", "localCheckpoint")


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    def resolve_jobs(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.overhead_s = 0.0
        self._next_id = 0
        self._undo: list[tuple] = []
        self._unresolved: list[dict] = []

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "name": name,
            "group": f"crawlbench-{self._next_id}",
            "round": attrs.pop("round", parent["round"] if parent else None),
            **attrs,
        }
        self._next_id += 1
        self.sc.setJobGroup(rec["group"], name)
        self.stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            outer = self.stack[-1] if self.stack else None
            self.sc.setJobGroup(outer["group"] if outer else "crawlbench-root", outer["name"] if outer else "")
            self.spans.append(rec)
            self._unresolved.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def resolve_jobs(self) -> None:
        """Attach job and stage counts to the spans closed since the last
        call. Call between rounds, before Spark's job history rolls over."""
        t0 = time.perf_counter()
        st = self.sc.statusTracker()
        for rec in self._unresolved:
            jobs = list(st.getJobIdsForGroup(rec["group"]))
            stages = 0
            for j in jobs:
                info = st.getJobInfo(j)
                stages += len(info.stageIds) if info is not None else 0
            rec["jobs"], rec["stages"] = len(jobs), stages
        self._unresolved = []
        self.overhead_s += time.perf_counter() - t0

    # -- patching -------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def _layer_call(self, name: str, tag: str | None = None, round_arg: int | None = None):
        def wrapper(orig):
            @functools.wraps(orig)
            def call(*args, **kwargs):
                attrs = {}
                if round_arg is not None:
                    attrs["round"] = kwargs.get("crawl_id", args[round_arg] if len(args) > round_arg else None)
                with self.span(name, **attrs):
                    out = orig(*args, **kwargs)
                if tag is not None and out is not None and hasattr(out, "sparkSession"):
                    setattr(out, TAG, tag)
                return out

            return call

        return wrapper

    def _action(self, orig):
        @functools.wraps(orig)
        def call(df, *args, **kwargs):
            layer = getattr(df, TAG, None)
            if layer is None or (self.stack and self.stack[-1]["name"] == layer):
                return orig(df, *args, **kwargs)
            with self.span(layer, phase="exec"):
                return orig(df, *args, **kwargs)

        return call

    def _append(self, orig):
        @functools.wraps(orig)
        def call(store, table, df, crawl_id):
            layer = getattr(df, TAG, None)
            name = layer if layer is not None else f"store.append.{table}"
            with self.span(name, table=table, phase="write") as rec:
                out = orig(store, table, df, crawl_id)
            t0 = time.perf_counter()
            rec["bytes"], rec["files"] = dir_size(os.path.join(store.root, table, f"crawl_id={crawl_id}"))
            self.overhead_s += time.perf_counter() - t0
            return out

        return call

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from dataset_crawler_spark.operators import discovery, scheduler, seen
        from dataset_crawler_spark.sources.snapshots import SnapshotStore
        from dataset_crawler_spark.streaming.rounds import CrawlEngine

        self._patch(CrawlEngine, "crawl_round", self._layer_call("rounds", round_arg=4))
        self._patch(CrawlEngine, "run_round", self._layer_call("diff"))
        self._patch(CrawlEngine, "bloom_as_of", self._layer_call("seen.read"))
        self._patch(CrawlEngine, "seen_urls_as_of", self._layer_call("seen.read", tag="seen.read"))
        self._patch(scheduler, "schedule_round", self._layer_call("scheduler", tag="scheduler"))
        self._patch(seen, "bloom_build", self._layer_call("seen.merge", tag="seen.merge"))
        self._patch(seen, "bloom_merge", self._layer_call("seen.merge", tag="seen.merge"))
        self._patch(discovery, "expand_frontier", self._layer_call("discovery", tag="discovery"))
        self._patch(SnapshotStore, "append", self._append)
        self._patch(SnapshotStore, "read", self._layer_call("store.read", tag="store.read"))
        self._patch(SnapshotStore, "commit_round", self._layer_call("store.commit"))
        for name in ACTIONS:
            self._patch(DataFrame, name, self._action)
        self.sc.setJobGroup("crawlbench-root", "")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo = []


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


# -- per-layer metrics ----------------------------------------------------------


def self_time(rec: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its direct children cover."""
    covered, cursor = 0.0, rec["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], cursor), min(c["end"], rec["end"])
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return (rec["end"] - rec["start"]) - covered


def round_layers(spans: list[dict], crawl_id: int) -> dict:
    """Per-layer figures of one crawl round from its spans."""
    mine = [s for s in spans if s.get("round") == crawl_id]
    kids = defaultdict(list)
    for s in mine:
        kids[s["parent"]].append(s)
    by_name = defaultdict(list)
    for s in mine:
        by_name[s["name"]].append(s)

    def busy(name: str) -> float:
        return sum(s["end"] - s["start"] for s in by_name[name])

    def jobs(name: str) -> int:
        return sum(s.get("jobs", 0) for s in by_name[name])

    root = by_name["rounds"][0]
    writes = [s for s in mine if s.get("phase") == "write"]
    out = {
        "rounds.self_s": self_time(root, kids[root["id"]]),
        "rounds.jobs": sum(s.get("jobs", 0) for s in mine),
        "rounds.stages": sum(s.get("stages", 0) for s in mine),
        "scheduler.busy_s": busy("scheduler"),
        "scheduler.jobs": jobs("scheduler"),
        "seen.merge_s": busy("seen.merge"),
        "seen.read_s": busy("seen.read"),
        "seen.bloom_bytes": sum(s["bytes"] for s in writes if s.get("table") == "bloom"),
        "fetch.busy_s": busy("fetch"),
        "diff.busy_s": sum(self_time(s, kids[s["id"]]) for s in by_name["diff"]),
        "diff.jobs": jobs("diff"),
        "discovery.busy_s": busy("discovery"),
        "store.read_s": busy("store.read"),
        "store.commit_s": busy("store.commit"),
        "store.bytes_written": sum(s["bytes"] for s in writes),
        "store.files_written": sum(s["files"] for s in writes),
    }
    for table in ("lineage", "versions", "fetched", "ops_log", "metrics"):
        out[f"store.append_s.{table}"] = busy(f"store.append.{table}")
    return out
