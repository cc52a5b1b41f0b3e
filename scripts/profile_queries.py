#!/usr/bin/env python3
"""Targeted per-query profiler for the optimization rounds: times a subset
of registry queries with the SAME methodology as bench.py (count() action,
min-of-N interleaved passes, sf0.001 warmup) so single-query experiments
don't need a full bench run.

Usage: python scripts/profile_queries.py [-n REPS] query1 query2 ...
       python scripts/profile_queries.py --explain query1   (plan only)
       python scripts/profile_queries.py --profile-workers DIR query1 ...

``--profile-workers DIR`` runs the Python workers under cProfile
(scripts/profile_worker.py): one ``.prof`` file per worker invocation goes
to DIR, and a summary over all of them, sorted by cumulative time, is
printed at the end.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession


def build_spark(profile_dir=None):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder
    if profile_dir is not None:
        # the JVM starts the daemon with the environment it inherits
        os.environ["PROFILE_WORKERS_DIR"] = profile_dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        builder = builder.config("spark.python.daemon.module", "scripts.profile_worker")
    return (
        builder.master(f"local[{cpus}]")
        .appName("profile-queries")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def print_worker_profile(profile_dir: str, top: int = 30) -> None:
    import pstats

    files = sorted(os.path.join(profile_dir, f) for f in os.listdir(profile_dir)
                   if f.endswith(".prof"))
    print(f"\n# {len(files)} worker invocations profiled in {profile_dir}")
    if files:
        pstats.Stats(*files).sort_stats("cumulative").print_stats(top)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", "--reps", type=int, default=3)
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--profile-workers", metavar="DIR",
                    help="write one cProfile file per Python-worker invocation to DIR")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    profile_dir = None
    if args.profile_workers:
        profile_dir = os.path.abspath(args.profile_workers)
        os.makedirs(profile_dir, exist_ok=True)
    spark = build_spark(profile_dir)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    qs = dict(entrymod.queries())
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf_dir

    if args.explain:
        for name in args.queries:
            print(f"===== {name} =====")
            print(qs[name](spark, args.sf_dir)._jdf.queryExecution().explainString("formatted"))
        return 0

    spark.range(1000).selectExpr("sum(id)").collect()
    for name in args.queries:
        try:
            qs[name](spark, warm_dir).count()
        except Exception as ex:
            print(f"# warmup {name} failed: {ex}", file=sys.stderr)

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    for rep in range(args.reps):
        for name in args.queries:
            fn = qs[name]
            if rep == 0:
                try:
                    fn(spark, warm_dir).count()
                except Exception:
                    pass
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = fn(spark, args.sf_dir)
            counts[name] = df.count()
            dt = time.time() - t0
            timings[name] = round(min(timings.get(name, dt), dt), 3)
            print(f"# rep{rep} {name}: {dt:.3f}s ({counts[name]} rows)", file=sys.stderr)
    print()
    for name in args.queries:
        print(f"{timings[name]:8.3f}  {name}  ({counts[name]} rows)")
    if profile_dir is not None:
        time.sleep(1)  # the last invocations write their files after the job ends
        print_worker_profile(profile_dir)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
