"""Crawl-round benchmark: one workload, one seed, one fresh process.

    python3 crawlbench/run.py --workload frontier --seed 1 --seconds 20 --trace 0

Each run builds its inputs from ``--seed`` (crawlbench/gen.py, cached by seed
and generator hash, outside the set-up clock), starts Spark with fixed
settings against a fresh store and fresh local dirs, runs one warm-up round,
then a timed window of ``max(2, round(seconds / 10))`` crawl rounds, then a
timed read-back phase (as-of reads and a training-shard export, done twice
from a freshly collected heap and timed as one window). It drives
the engine only through its public API, checks every round's outputs with
plain Spark against the model in gen.py (crawlbench/checks.py), and prints
one JSON result as the last line of standard output; the line before it is
a JSON summary of the run (round times, failures, loadavg, GC time, Spark
settings).

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace 1``
records spans around every layer call (crawlbench/tracing.py) and reports the
per-layer metrics, as means over the timed rounds; the summary line carries
the per-round values, this run's end-to-end numbers, those of the latest
untraced run of the same workload and seed, and the tracing overhead.

Workloads (closed loop, one crawl round at a time):

- ``frontier``: discover rounds (bloom + exact seen filter, outlink
  discovery) over a standing dirty frontier about ten times the per-round
  schedule, plus the previous round's discoveries.
- ``recrawl``: ``mode="full"`` re-crawls of a fixed URL set against two
  alternating corpus versions (diff, state fold and store writes dominate);
  the read-back phase reads round 1 (adds and deletes) and the last round.

The inputs are small (gen.SIZES["full"]): a round runs 40 to 50 Spark jobs,
and at this size most of each layer's time is per-job overhead, not row work.
A change shows in the end-to-end metrics when it removes jobs, stages or plan
work from a layer; one that only speeds up per-row work barely moves them.

Everything a run writes goes under ``crawlbench/.work/``; the run directory
(store, Spark local dirs, export) is deleted at the end, and a JSON record of
the run (plus its spans when traced) stays in ``crawlbench/.work/records/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402

#: nominal seconds per crawl round, to turn --seconds into a round count
NOMINAL_ROUND_S = 10.0
WARMUP_ROUNDS = 1
#: rounds here are bound by per-job overhead, not data: local[2] with one
#: shuffle partition measured faster and steadier than local[4] with four
CORES = 2
SHUFFLE_PARTITIONS = 1
EXPORT_SHARDS = 4
#: the read-back phase is a few seconds long, so it is done this many times
#: and timed as one window
READ_REPS = 2

END_TO_END = {
    "setup_s": "s",
    "docs_committed_per_s": "1/s",
    "frontier_urls_per_s": "1/s",
    "round_s.p50": "s",
    "asof_docs_per_s": "1/s",
    "store_bytes_per_doc": "B",
    "peak_pss_mb": "MB",
    "rounds_ok_frac": "frac",
}

PER_LAYER = {
    "rounds.self_s": "s",
    "rounds.jobs": "count",
    "rounds.stages": "count",
    "scheduler.busy_s": "s",
    "scheduler.rows_in": "count",
    "scheduler.rows_out": "count",
    "scheduler.jobs": "count",
    "seen.merge_s": "s",
    "seen.read_s": "s",
    "seen.bloom_bytes": "B",
    "fetch.busy_s": "s",
    "fetch.rows_out": "count",
    "fetch.useful_frac": "frac",
    "robots.busy_s": "s",
    "robots.hosts": "count",
    "diff.busy_s": "s",
    "diff.rows_in": "count",
    "diff.added": "count",
    "diff.updated": "count",
    "diff.deleted": "count",
    "diff.jobs": "count",
    "discovery.busy_s": "s",
    "discovery.rows_out": "count",
    "store.append_s.lineage": "s",
    "store.append_s.versions": "s",
    "store.append_s.fetched": "s",
    "store.append_s.ops_log": "s",
    "store.append_s.metrics": "s",
    "store.read_s": "s",
    "store.commit_s": "s",
    "store.bytes_written": "B",
    "store.files_written": "count",
    "asof.read_s": "s",
    "asof.rows": "count",
    "export.busy_s": "s",
    "export.rows": "count",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
    "trace.round_s.p50": "s",
}


# -- process-level probes ---------------------------------------------------------


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler(threading.Thread):
    """Peak PSS of this process tree (this process, the JVM, Python workers)."""

    def __init__(self, interval_s: float = 0.5):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_kb = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        total = sum(pss_kb(p) for p in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._halt.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)
        self.sample()


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def spark_settings() -> dict:
    cores = max(1, min(CORES, len(os.sched_getaffinity(0))))
    with open("/proc/meminfo") as fh:
        total_mb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1]) // 1024
    return {
        "cores": cores,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory_mb": min(1024, total_mb // 4),
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# -- workloads ----------------------------------------------------------------------


class Workload:
    """One workload: inputs, hosts dimension and engine; subclasses run the rounds."""

    name = ""

    def __init__(self, spark, tracer, inputs: str, meta: dict, store: str):
        from dataset_crawler_spark.sources.robots import hosts_dim_from_robots
        from dataset_crawler_spark.streaming.rounds import CrawlEngine
        from pyspark.sql import functions as F

        self.spark, self.tracer, self.inputs, self.meta = spark, tracer, inputs, meta
        self.engine = CrawlEngine(spark, store)
        self.standing = spark.read.parquet(self.path("standing.parquet"))
        budgets = spark.read.parquet(self.path("hosts.parquet")).select(
            "host", F.col("budget").alias("max_fetch_per_round")
        )
        with tracer.span("robots") as rec:
            robots = spark.read.parquet(self.path("robots.parquet"))
            self.hosts = (
                hosts_dim_from_robots(robots, default_delay_ms=0)
                .drop("max_fetch_per_round")
                .join(budgets, "host")
                .localCheckpoint()
            )
            rec["hosts"] = self.hosts.count()
        self.robots_hosts = rec.get("hosts", 0)

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def fetcher(self, corpus):
        """The simulated fetcher, materialized inside the fetch stage (a real
        fetcher's results are never recomputed)."""
        from dataset_crawler_spark.streaming.rounds import simulated_fetcher

        inner = simulated_fetcher(corpus)
        tracer = self.tracer

        def fetch(spark, scheduled):
            with tracer.span("fetch"):
                return inner(spark, scheduled).localCheckpoint()

        return fetch

    def frontier_rows(self, crawl_id: int, discovered: dict) -> int:
        return self.meta["standing_rows"]

    def discovered_counts(self) -> dict:
        return {}

    def asof_rounds(self, last: int) -> list[int]:
        return [last]


class FrontierWorkload(Workload):
    name = "frontier"

    def __init__(self, *a):
        super().__init__(*a)
        from dataset_crawler_spark.operators import seen as SN

        self.corpus = self.spark.read.parquet(self.path("corpus.parquet"))
        self.fetch = self.fetcher(self.corpus)
        self.bloom = SN.BloomParams.for_capacity(
            self.meta["docs"] * 2, fp_rate=0.01, n_shards=SHUFFLE_PARTITIONS * 2
        )

    def round(self, crawl_id: int) -> dict:
        frontier = self.standing
        if crawl_id > 0:
            frontier = frontier.unionByName(self.engine.discovered_frontier(crawl_id - 1))
        return self.engine.crawl_round(
            frontier,
            self.hosts,
            self.fetch,
            crawl_id,
            bloom_params=self.bloom,
            mode="discover",
            discover_links=True,
        )

    def frontier_rows(self, crawl_id: int, discovered: dict) -> int:
        return self.meta["standing_rows"] + (discovered.get(crawl_id - 1, 0) if crawl_id > 0 else 0)

    def discovered_counts(self) -> dict:
        rows = (
            self.spark.read.parquet(os.path.join(self.engine.store.root, "discovered"))
            .groupBy("crawl_id")
            .count()
            .collect()
        )
        return {int(r["crawl_id"]): int(r["count"]) for r in rows}


class RecrawlWorkload(Workload):
    name = "recrawl"

    def __init__(self, *a):
        super().__init__(*a)
        self.fetches = [
            self.fetcher(self.spark.read.parquet(self.path(f"{v}.parquet")))
            for v in ("version_a", "version_b")
        ]

    def round(self, crawl_id: int) -> dict:
        return self.engine.crawl_round(
            self.standing, self.hosts, self.fetches[crawl_id % 2], crawl_id, mode="full"
        )

    def asof_rounds(self, last: int) -> list[int]:
        """Round 1 (its adds and deletes visible) and the last round."""
        return sorted({r for r in (1, last) if r <= last})


WORKLOADS = {"frontier": FrontierWorkload, "recrawl": RecrawlWorkload}


# -- one run --------------------------------------------------------------------


def crawl(wl: Workload, warmup: int, n_rounds: int, on_window_start=None) -> dict:
    """Warm-up rounds, then the timed window. A round that raises ends the
    loop; it and the rounds after it count as failed."""
    stats, round_s, errors = [], [], {}
    gc_start = None
    for r in range(n_rounds):
        if r == warmup:
            if on_window_start is not None:
                on_window_start()
            gc_start = jvm_gc_s(wl.spark)
        t0 = time.perf_counter()
        try:
            s = wl.round(r)
        except Exception as exc:  # counted against rounds_ok_frac
            errors[r] = [f"{type(exc).__name__}: {exc}"]
            break
        round_s.append(time.perf_counter() - t0)
        stats.append(s)
        wl.tracer.resolve_jobs()
    return {
        "stats": stats,
        "round_s": round_s,
        "errors": errors,
        "jvm_gc_s_window": jvm_gc_s(wl.spark) - gc_start if gc_start is not None else None,
    }


def read_back(wl: Workload, last: int, export_dir: str) -> dict:
    """As-of reads of a few rounds and a training-shard export of the last
    one, done READ_REPS times over the same store (each export into a fresh
    ``export_dir``) and timed as one phase: the rep times are summed."""
    from checks import digest

    from dataset_crawler_spark.sources.training_export import (
        pack_assignments,
        spans_to_text,
        write_training_shards,
    )

    # start from a collected heap, so where the rounds left the young-GC
    # cycle does not land in this short phase
    wl.spark._jvm.System.gc()
    out = {"asof_reps": [], "export_rows": [], "rep_s": [], "read_s": 0.0, "export_s": 0.0}
    for _ in range(READ_REPS):
        shutil.rmtree(export_dir, ignore_errors=True)
        asof = {}
        t0 = time.perf_counter()
        with wl.tracer.span("asof") as read_rec:
            for r in wl.asof_rounds(last):
                asof[r] = digest(wl.engine.visible_docs(r), "doc_id", "spans")
        with wl.tracer.span("export") as export_rec:
            docs = spans_to_text(wl.engine.visible_docs(last))
            export = write_training_shards(docs, pack_assignments(docs, n_shards=EXPORT_SHARDS), export_dir)
        out["rep_s"].append(time.perf_counter() - t0)
        wl.tracer.resolve_jobs()
        out["asof_reps"].append(asof)
        out["export_rows"].append(export["n_docs"])
        out["read_s"] += span_s(read_rec)
        out["export_s"] += span_s(export_rec)
    out.update({"asof": asof, "export": export, "seconds": sum(out["rep_s"])})
    return out


def verify(wl: Workload, crawled: dict, back: dict | None, export_dir: str, discovered: dict) -> dict:
    """Every output check; returns {crawl_id: [failure, ...]}."""
    import checks

    spark, store, inputs = wl.spark, wl.engine.store.root, wl.inputs
    expected = wl.meta["rounds"]
    done = len(crawled["stats"])
    found = [crawled["errors"], checks.check_stats(crawled["stats"], expected)]
    if done:
        found += [
            checks.check_lineage_counts(spark, store, expected, done),
            checks.check_budgets(spark, store, inputs),
            checks.check_fetched_unique(spark, store, across_rounds=wl.name == "frontier"),
        ]
        if wl.name == "frontier":
            found.append(checks.check_fetched_sets(spark, store, inputs, done))
            found.append(checks.check_discovered(discovered, expected, done))
    failures = checks.merge(*found)
    if back is not None:
        last = done - 1
        if any(a != back["asof"] for a in back["asof_reps"]) or len(set(back["export_rows"])) != 1:
            failures[last].append(
                f"read-back reps disagree: {back['asof_reps']}, export rows {back['export_rows']}"
            )
        for r, got in back["asof"].items():
            want = checks.digest(checks.expected_visible(spark, inputs, wl.name, r), "doc_id", "spans")
            if got != want:
                failures[r].append(f"as-of visible docs {got} != expected {want}")
        visible = back["asof"][last][0]
        exported = spark.read.parquet(os.path.join(export_dir, "shards")).count()
        if not (back["export"]["n_docs"] == exported == visible):
            failures[last].append(
                f"export rows {back['export']['n_docs']}/{exported} != visible docs {visible}"
            )
    return failures


def end_to_end(wl, crawled, back, failures, warmup, n_rounds, setup_s, peak_kb, discovered) -> dict:
    from tracing import dir_size

    stats, done = crawled["stats"], len(crawled["stats"])
    timed_s = crawled["round_s"][warmup:]
    window_s = sum(timed_s)
    committed = sum(s["added"] + s["updated"] + s["deleted"] for s in stats[warmup:])
    frontier_in = sum(wl.frontier_rows(r, discovered) for r in range(warmup, done))
    visible = back["asof"][done - 1][0] if back else 0
    read_docs = len(back["rep_s"]) * (sum(d[0] for d in back["asof"].values()) + back["export"]["n_docs"]) if back else 0
    ok = sum(1 for r in range(done) if not failures.get(r))
    return {
        "setup_s": setup_s or 0.0,
        "docs_committed_per_s": committed / window_s if window_s else 0.0,
        "frontier_urls_per_s": frontier_in / window_s if window_s else 0.0,
        "round_s.p50": statistics.median(timed_s) if timed_s else 0.0,
        "asof_docs_per_s": read_docs / back["seconds"] if back else 0.0,
        "store_bytes_per_doc": dir_size(wl.engine.store.root)[0] / visible if visible else 0.0,
        "peak_pss_mb": peak_kb / 1024.0,
        "rounds_ok_frac": ok / n_rounds,
    }


def per_layer(wl, tracer, crawled, back, warmup, discovered) -> tuple[list[dict], dict]:
    """Per-round layer figures of the timed rounds, and their means plus the
    once-per-run layers (robots, read side, GC, tracing overhead)."""
    from tracing import round_layers

    stats, per_round = crawled["stats"], []
    for r in range(warmup, len(stats)):
        s = stats[r]
        layer = round_layers(tracer.spans, r)
        layer.update(
            {
                "scheduler.rows_in": wl.frontier_rows(r, discovered),
                "scheduler.rows_out": s["scheduled"],
                "fetch.rows_out": s["fetched"],
                "fetch.useful_frac": s["fetched"] / s["scheduled"] if s["scheduled"] else 0.0,
                "diff.rows_in": s["fetched"],
                "diff.added": s["added"],
                "diff.updated": s["updated"],
                "diff.deleted": s["deleted"],
                "discovery.rows_out": discovered.get(r, 0),
            }
        )
        per_round.append(layer)
    means = {k: statistics.fmean(pr[k] for pr in per_round) for k in per_round[0]} if per_round else {}
    timed_s = crawled["round_s"][warmup:]
    means.update(
        {
            "robots.busy_s": span_s(next((s for s in tracer.spans if s["name"] == "robots"), None)),
            "robots.hosts": wl.robots_hosts,
            "asof.read_s": back["read_s"] / len(back["rep_s"]) if back else 0.0,
            "asof.rows": sum(d[0] for d in back["asof"].values()) if back else 0,
            "export.busy_s": back["export_s"] / len(back["rep_s"]) if back else 0.0,
            "export.rows": back["export"]["n_docs"] if back else 0,
            "jvm.gc_s": (crawled["jvm_gc_s_window"] or 0.0) / max(1, len(timed_s)),
            "trace.overhead_s": tracer.overhead_s / max(1, len(stats)),
            "trace.round_s.p50": statistics.median(timed_s) if timed_s else 0.0,
        }
    )
    return per_round, means


def fresh_dirs(run_dir: str) -> dict:
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("store", "local", "tmp", "export")}
    for k in ("local", "tmp"):
        os.makedirs(dirs[k])
    return dirs


def spark_env(dirs: dict) -> None:
    """Environment the JVM and the Python workers inherit."""
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_spark(settings: dict, dirs: dict):
    from dataset_crawler_spark.session import get_spark

    return get_spark(
        "crawlbench",
        cores=settings["cores"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": f"{settings['driver_memory_mb']}m",
            "spark.local.dir": dirs["local"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def run(args) -> dict:
    from tracing import NullTracer, Tracer

    t_gen = time.time()
    inputs, meta = gen.ensure_inputs(args.workload, args.seed, "full", os.path.join(WORK, "inputs"))
    gen_s = time.time() - t_gen

    warmup = WARMUP_ROUNDS
    timed = max(2, round(args.seconds / NOMINAL_ROUND_S))
    n_rounds = warmup + timed
    if n_rounds > gen.MAX_ROUNDS:
        raise SystemExit(f"--seconds {args.seconds} needs {n_rounds} rounds; the model has {gen.MAX_ROUNDS}")

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}-{int(T_PROCESS)}")
    dirs = fresh_dirs(run_dir)
    settings = spark_settings()
    spark_env(dirs)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "warmup_rounds": warmup,
        "timed_rounds": timed,
        "spark": settings,
        "loadavg_start": loadavg(),
        "input_gen_s": gen_s,
    }
    phase = {"start": time.time()}
    sampler = PssSampler()
    sampler.start()
    spark = start_spark(settings, dirs)
    phase["session"] = time.time()
    window_start = {}
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        tracer.install()
        wl = WORKLOADS[args.workload](spark, tracer, inputs, meta, dirs["store"])
        tracer.resolve_jobs()
        phase["workload_init"] = time.time()
        crawled = crawl(wl, warmup, n_rounds, lambda: window_start.setdefault("t", time.time()))
        phase["rounds"] = time.time()
        done = len(crawled["stats"])
        back = read_back(wl, done - 1, dirs["export"]) if done else None
        phase["read_back"] = time.time()
        sampler.stop()
        tracer.uninstall()
        discovered = wl.discovered_counts() if done else {}
        failures = verify(wl, crawled, back, dirs["export"], discovered)
        phase["checks"] = time.time()
        setup_s = window_start["t"] - T_PROCESS - gen_s if window_start else None
        metrics = end_to_end(wl, crawled, back, failures, warmup, n_rounds, setup_s, sampler.peak_kb, discovered)
        record.update(
            {
                "round_s": crawled["round_s"],
                "round_s_samples": len(crawled["round_s"][warmup:]),
                "stats": crawled["stats"],
                "frontier_rows": [wl.frontier_rows(r, discovered) for r in range(done)],
                "discovered_rows": discovered,
                "failures": {str(r): f for r, f in failures.items() if f},
                "jvm_gc_s_window": crawled["jvm_gc_s_window"],
                "jvm_gc_s_total": jvm_gc_s(spark),
                "read_back": {k: v for k, v in (back or {}).items() if k not in ("asof", "asof_reps")},
                "asof_rounds": sorted(back["asof"]) if back else [],
                "metrics": metrics,
            }
        )
        if args.trace:
            per_round, means = per_layer(wl, tracer, crawled, back, warmup, discovered)
            untraced = latest_record(args, trace=0)
            base = (untraced or {}).get("metrics", {}).get("round_s.p50")
            record.update(
                {
                    "per_round": per_round,
                    "layer_metrics": means,
                    "untraced_metrics": untraced.get("metrics") if untraced else None,
                    "tracing_overhead_frac": metrics["round_s.p50"] / base - 1.0 if base else None,
                }
            )
        record["loadavg_end"] = loadavg()
    finally:
        stop_spark(spark)
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    phase["stop"] = time.time()
    marks = list(phase.items())
    record["phase_s"] = {k: round(t - marks[i][1], 3) for i, (k, t) in enumerate(marks[1:])}
    record["phase_s"]["before_session"] = round(phase["start"] - T_PROCESS, 3)

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{int(T_PROCESS * 1000)}"
    with open(os.path.join(WORK, "records", stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(WORK, "records", stem + ".spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
    return record


def span_s(rec: dict | None) -> float:
    return rec["end"] - rec["start"] if rec else 0.0


def latest_record(args, trace: int) -> dict | None:
    """The newest run record of the same workload and seed."""
    folder = os.path.join(WORK, "records")
    if not os.path.isdir(folder):
        return None
    prefix = f"{args.workload}-s{args.seed}-t{trace}-"
    names = sorted(n for n in os.listdir(folder) if n.startswith(prefix) and not n.endswith(".spans.json"))
    for name in reversed(names):
        with open(os.path.join(folder, name)) as fh:
            rec = json.load(fh)
        if rec.get("metrics"):
            return rec
    return None


def result_line(record: dict) -> dict:
    n_rounds = record["warmup_rounds"] + record["timed_rounds"]
    ok = round(record["metrics"]["rounds_ok_frac"] * n_rounds)
    if record["trace"]:
        values, units = record["layer_metrics"], PER_LAYER
    else:
        values, units = record["metrics"], END_TO_END
    return {
        "correct": ok == n_rounds,
        "attempted": n_rounds,
        "failed": n_rounds - ok,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Crawl-round benchmark (see module docstring).")
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20.0, help="length of the timed window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import dataset_crawler_spark  # noqa: F401
    except ImportError as exc:
        print(f"crawlbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    record = run(args)
    info = {
        "workload": record["workload"],
        "seed": record["seed"],
        "round_s": record.get("round_s"),
        "round_s_samples": record.get("round_s_samples"),
        "read_back_s": record.get("read_back", {}).get("rep_s"),
        "failures": record.get("failures"),
        "loadavg": [record["loadavg_start"], record.get("loadavg_end")],
        "jvm_gc_s_window": record.get("jvm_gc_s_window"),
        "spark": record["spark"],
        "phase_s": record["phase_s"],
    }
    if record["trace"]:
        info.update(
            {
                "per_round": record["per_round"],
                "end_to_end_traced": record["metrics"],
                "end_to_end_untraced": record["untraced_metrics"],
                "tracing_overhead_frac": record["tracing_overhead_frac"],
            }
        )
    print(json.dumps(info))
    print(json.dumps(result_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
