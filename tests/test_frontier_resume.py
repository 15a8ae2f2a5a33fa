"""Bucketed-frontier durability across sessions (sf0.1 scale).

The exchange-free schedule plan rides on CATALOG bucket metadata
(sources/frontier_table.py re-registers over the on-disk files). A unit test
inside one SparkSession can't prove resume — `newSession()` shares the
catalog — so this test writes the table at sf0.1 scale (4M URLs) in the
suite's session, then drives a REAL child Python process with its own JVM:
the child re-attaches via ensure_registered(), runs schedule_round over the
bucketed scan, asserts the plan has no url_c-keyed exchange, and prints a
value fingerprint the parent compares against its own run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from dataset_crawler_spark import datagen
from dataset_crawler_spark.operators import scheduler as SCH
from dataset_crawler_spark.sources.frontier_table import BucketedFrontierTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_URLS = 4_000_000  # sf0.1 per FIXTURES.md
N_HOSTS = 2_000

CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from dataset_crawler_spark import datagen
from dataset_crawler_spark.operators import scheduler as SCH
from dataset_crawler_spark.session import get_spark
from dataset_crawler_spark.sources.frontier_table import BucketedFrontierTable

spark = get_spark("frontier_resume_child", cores=None, shuffle_partitions=8)
ft = BucketedFrontierTable(spark, {name!r}, {loc!r}, 8)
assert not ft.exists()  # fresh catalog: nothing carried over from the writer
ft.ensure_registered()
hosts = datagen.hosts(spark, {n_hosts})
sched = SCH.schedule_round(ft.read(), hosts)
fp = sched.agg(
    F.count("*").alias("n"),
    F.sum(F.hash("url_c").cast("long")).alias("fp"),
).collect()[0]
plan = sched._jdf.queryExecution().executedPlan().toString()
assert "Exchange hashpartitioning(url_c" not in plan, plan[:4000]
print("RESUME_RESULT " + json.dumps({{"n": fp.n, "fp": fp.fp}}))
spark.stop()
"""


def test_bucketed_frontier_resumes_in_fresh_session(spark, tmp_path):
    name = "t_frontier_resume"
    loc = str(tmp_path / "frontier")
    ft = BucketedFrontierTable(spark, name, loc, 8)
    ft.append(datagen.frontier(spark, N_URLS, n_hosts=N_HOSTS, partitions=8))

    hosts = datagen.hosts(spark, N_HOSTS)
    mine = (
        SCH.schedule_round(ft.read(), hosts)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.hash("url_c").cast("long")).alias("fp"),
        )
        .collect()[0]
    )
    assert mine.n > 0

    child = tmp_path / "child.py"
    child.write_text(CHILD.format(repo=REPO, name=name, loc=loc, n_hosts=N_HOSTS))
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    # this session's JVM stays alive next to the child's: cap the child at a
    # quarter of RAM so the two heaps together cannot claim all of it
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{phys_mb // 4}m"
    # the child must NOT inherit this session's derby/warehouse metadata —
    # run from a scratch cwd so its in-memory catalog starts empty
    proc = subprocess.run(
        [sys.executable, str(child)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESUME_RESULT ")
    )
    got = json.loads(line.split(" ", 1)[1])
    assert got == {"n": mine.n, "fp": mine.fp}

    spark.sql(f"DROP TABLE {name}")
