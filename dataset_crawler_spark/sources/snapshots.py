"""Snapshot table store — Iceberg-semantics adapter (SURVEY.md §7.0).

The engine targets Iceberg semantics: append-only snapshots, snapshot-id time
travel, atomic commit of a round. The adapter implements that contract over
partitioned Parquet + a JSON manifest; callers see only ``append``,
``commit_round`` and ``read(as_of=…)``, the calls an Iceberg table serves
with ``VERSION AS OF``.

Layout (one store root per engine instance):

    <root>/manifest.json                  — committed rounds + their stats
    <root>/<table>/crawl_id=<r>/*.parquet — round-partitioned appends

Commit protocol: data is written to the partition directory first, the
manifest is rewritten last via atomic rename — a crashed round leaves data
files but no manifest entry, and a re-run overwrites the partition
(idempotent replay, north_rule "resumable from checkpoint"). This mirrors the
reference's property that every mutation is tagged with its crawl_id and the
crawl_log row is the round's commit record (CrawlDBOperations.java:258-285).

Partitioning by ``crawl_id`` gives partition pruning for the as-of read path
(CrawlLoadData.java's ``crawl_id BETWEEN ?`` range loads, :36-229).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotStore:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"rounds": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, m: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(m, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic commit

    def committed_rounds(self) -> list[int]:
        return sorted(r["crawl_id"] for r in self.manifest()["rounds"])

    def last_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    # -- writes -------------------------------------------------------------

    def append(self, table: str, df: DataFrame, crawl_id: int) -> None:
        """Append one round's rows to a table partition (idempotent: a replay
        of the same round overwrites its own partition only)."""
        path = os.path.join(self.root, table, f"crawl_id={crawl_id}")
        df.drop("crawl_id").write.mode("overwrite").parquet(path)

    def commit_round(self, crawl_id: int, description: str = "", stats: dict | None = None) -> None:
        m = self.manifest()
        m["rounds"] = [r for r in m["rounds"] if r["crawl_id"] != crawl_id]
        m["rounds"].append(
            {"crawl_id": crawl_id, "description": description, "stats": stats or {}}
        )
        m["rounds"].sort(key=lambda r: r["crawl_id"])
        self._write_manifest(m)

    # -- reads --------------------------------------------------------------

    def read(self, table: str, as_of: int | None = None) -> DataFrame:
        """Read all committed rows of a table (optionally ≤ as_of).

        Only committed rounds are visible — uncommitted partition dirs from a
        crashed run are ignored, which is what makes replay safe.
        """
        base = os.path.join(self.root, table)
        rounds = [r for r in self.committed_rounds() if as_of is None or r <= as_of]
        paths = [os.path.join(base, f"crawl_id={r}") for r in rounds]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            raise FileNotFoundError(f"no committed data for table {table!r} (as_of={as_of})")
        # One partition-discovered scan over the committed partition dirs
        # (NOT a per-round union — after R rounds that is an R-way union plan
        # Catalyst re-optimizes on every action). ``basePath`` makes Spark
        # parse crawl_id back out of the directory names as a partition
        # column, so crawl_id range predicates prune at the file level — the
        # Iceberg-snapshot read path shape (CrawlLoadData.java:36-229).
        return (
            self.spark.read.option("basePath", base)
            .parquet(*paths)
            .withColumn("crawl_id", F.col("crawl_id").cast("int"))
        )
