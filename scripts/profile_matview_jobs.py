"""Per-phase job-count + wall profile of the matview gate queries.

Usage: python scripts/profile_matview_jobs.py [additive|minmax]
"""
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from bigdataingestion_spark.session import get_spark
from bigdataingestion_spark.sinks.matview import IncrementalAggView
from bigdataingestion_spark.sinks.txlog import TxLogTable

SF_DIR = "/root/testdata/sf0.01"

spark = get_spark("profile-mv")
sc = spark.sparkContext
tracker = sc.statusTracker()


def _t(name):
    return spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))


def _fresh_txlog():
    return TxLogTable(os.path.join(tempfile.mkdtemp(prefix="txlog-"), "t"))


PHASE_STATS = []


class phase:
    def __init__(self, name):
        self.name = name

    def __enter__(self):
        self.gid = f"phase-{self.name}-{time.monotonic_ns()}"
        sc.setJobGroup(self.gid, self.name)
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        dt = time.monotonic() - self.t0
        jobs = tracker.getJobIdsForGroup(self.gid)
        sc.setJobGroup("idle", "idle")
        PHASE_STATS.append((self.name, len(jobs), dt))
        return False


MODES = ("additive", "minmax")
which = sys.argv[1] if len(sys.argv) > 1 else "minmax"
if which not in MODES:
    sys.exit(f"unknown mode {which!r}; expected one of {', '.join(MODES)}")

orders = _t("orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
k = F.col("o_orderkey")

if which == "minmax":
    src = _fresh_txlog()
    with phase("fixture_append"):
        src.append(orders.filter(k % 4 < 3))
    with phase("cdf_enable"):
        src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        os.path.join(tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {
            "n_orders": ("count", "1"),
            "min_price": ("min", "o_totalprice"),
            "max_price": ("max", "o_totalprice"),
        },
        rebuild_ratio=None,
    )
    with phase("build"):
        mv.build(spark)
    with phase("src_delete1"):
        src.delete(spark, "o_totalprice > 400000")
    with phase("src_delete2"):
        src.delete(spark, "o_orderstatus = 'P'")
    with phase("refresh1_recompute"):
        mv.refresh(spark)
    with phase("src_update"):
        src.update(spark, "o_orderkey % 7 = 0", {"o_totalprice": "o_totalprice * 0.5"})
    with phase("refresh2_recompute"):
        mv.refresh(spark)
    with phase("read_noop"):
        mv.read(spark).write.format("noop").mode("overwrite").save()
elif which == "additive":
    src = _fresh_txlog()
    with phase("fixture_append"):
        src.append(orders.filter(k % 3 == 0))
    with phase("cdf_enable"):
        src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        os.path.join(tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {
            "n_orders": ("count", "1"),
            "sum_price": ("sum", "o_totalprice"),
            "avg_price": ("avg", "o_totalprice"),
        },
        rebuild_ratio=None,
    )
    with phase("build"):
        mv.build(spark)
    with phase("src_append"):
        src.append(orders.filter(k % 3 == 1))
    with phase("refresh1_additive"):
        mv.refresh(spark)
    with phase("src_update"):
        src.update(spark, "o_orderkey % 10 = 0", {"o_totalprice": "o_totalprice * 1.1"})
    with phase("src_delete"):
        src.delete(spark, "o_orderkey % 15 = 0")
    with phase("refresh2_recompute"):
        mv.refresh(spark)
    with phase("read_noop"):
        mv.read(spark).write.format("noop").mode("overwrite").save()

total_jobs = sum(j for _, j, _ in PHASE_STATS)
total_wall = sum(w for _, _, w in PHASE_STATS)
print(f"\n=== {which}: per-phase jobs / wall ===")
for name, jobs, wall in PHASE_STATS:
    print(f"{name:24s} jobs={jobs:3d} wall={wall:7.3f}s")
print(f"{'TOTAL':24s} jobs={total_jobs:3d} wall={total_wall:7.3f}s")
