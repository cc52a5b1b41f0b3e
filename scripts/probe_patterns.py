#!/usr/bin/env python3
"""Hot-key streaming drain probe for the pattern kernels, one shape per run.

Drains ``n_events`` (default 10M) through a streaming CQL pattern of the
chosen kernel shape with ``trigger(availableNow=True)`` into a noop sink.
The generator: ts-ordered 10 ms steps, hot key user 1 at ~10 %, the rest
over 100k users, event types cycling so every shape's stages arm; errors
are 5 % of the stream (the arming density of the error-anchored shapes).

Cells (``--cells``, comma list; default all): ``perkey_4batch`` and
``perkey_1batch`` (one GroupState visit per key, 4 micro-batches or one),
``bucket{N}_4batch`` and ``bucket{N}_1batch`` (``pattern_key_buckets=N``).
The 1-batch cells separate the per-key visit floor from kernel compute.

Usage:
  python scripts/probe_patterns.py --shape {every2,strict2,absence2,chain,quant2,chain_quant} \\
      [n_events] [buckets] [--cells perkey_4batch,...]
Prints one progress JSON line per cell on stderr and one summary JSON line
on stdout (ev/s, seconds, peak state rows, micro-batches, sink rows).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N_WAVES = 4  # generator waves = max micro-batch count

_HEAD = "partition with (user_id of events) begin from "
_TAIL = " insert into Out; end"
SHAPES = {
    # every a -> b: the 2-step funnel prefix
    "every2": "every v = events[event_type == 'view'] "
              "-> k = events[event_type == 'click'] within 1 hour "
              "select v.user_id as user_id, k.event_id as click_id",
    # the same with a strict ',' connector: the next row decides
    "strict2": "every v = events[event_type == 'view'] "
               ", k = events[event_type == 'click'] within 1 hour "
               "select v.user_id as user_id, k.event_id as click_id",
    "absence2": "every e = events[event_type == 'error'] "
                "-> not events[event_type == 'purchase'] for 5 min "
                "select e.user_id as user_id, e.event_id as error_id",
    "chain": "every v = events[event_type == 'view'] "
             "-> k = events[event_type == 'click'] "
             "-> p = events[event_type == 'purchase'] within 1 hour "
             "select v.user_id as user_id, p.event_id as purchase_id",
    "quant2": "every a = events[event_type == 'error']<1:2> "
              "-> p = events[event_type == 'purchase'] within 10 min "
              "select a[0].user_id as user_id, p.event_id as purchase_id",
    "chain_quant": "every a = events[event_type == 'error'] "
                   "-> b = events[event_type == 'click']<1:2> "
                   "-> p = events[event_type == 'purchase'] within 10 min "
                   "select a.user_id as user_id, b[0].event_id as click1, "
                   "p.event_id as purchase_id",
}


def _gen(spark, root: str, n_events: int) -> str:
    src = os.path.join(root, "in")
    per = n_events // N_WAVES
    for b in range(N_WAVES):
        df = (
            spark.range(b * per, (b + 1) * per)
            .select(
                F.col("id").alias("event_id"),
                F.when(F.col("id") % 10 == 0, F.lit(1))
                .otherwise((F.col("id") % 100_000) + 10).alias("user_id"),
                F.when(F.col("id") % 20 == 19, F.lit("error"))
                .when(F.col("id") % 5 == 0, F.lit("view"))
                .when(F.col("id") % 5 == 1, F.lit("click"))
                .when(F.col("id") % 5 == 2, F.lit("purchase"))
                .otherwise(F.lit("view")).alias("event_type"),
                (F.col("id") % 97).cast("double").alias("value"),
                (F.lit(1_700_000_000_000) + F.col("id") * 10).alias("ts_ms"),
            )
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        )
        df.coalesce(8).write.mode("append").parquet(src)
    return src


def _run(spark, src, schema, root, tag, files_per_trigger, buckets, cql,
         n_events):
    from flink_siddhi_spark import SiddhiCEP

    reader = spark.readStream.format("parquet").schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    cep = SiddhiCEP(spark, pattern_key_buckets=buckets)
    cep.register_stream(
        "events", reader.load(src), "event_id", "user_id", "event_type",
        "value", "ts_ms", ts_field="ts_ms",
    )
    plan = cep.from_("events").cql(cql).returns("Out")
    t0 = time.time()
    q = (
        plan.writeStream.format("noop")
        .option("checkpointLocation", os.path.join(root, f"ck_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(3600)
    dt = time.time() - t0
    peak_state, batches, out_rows = 0, 0, 0
    for p in q.recentProgress:
        batches += 1
        out_rows += p.get("sink", {}).get("numOutputRows", 0) or 0
        for so in p.get("stateOperators", []):
            peak_state = max(peak_state, so.get("numRowsTotal", 0))
    return {
        "sec": round(dt, 2),
        "events_per_sec": int(n_events / dt),
        "peak_state_rows": peak_state,
        "micro_batches": batches,
        "sink_rows": out_rows,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--shape", required=True, choices=sorted(SHAPES))
    ap.add_argument("n_events", nargs="?", type=int, default=10_000_000)
    ap.add_argument("buckets", nargs="?", type=int, default=1024)
    ap.add_argument("--cells", default=None,
                    help="comma list of cells to run (default: all four)")
    args = ap.parse_args()
    spark = (
        SparkSession.builder
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName(f"probe-patterns-{args.shape}")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        # 24g at the default 10M events, scaled down for smaller drains
        .config("spark.driver.memory",
                f"{max(4, round(24 * args.n_events / 10_000_000))}g")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cql = _HEAD + SHAPES[args.shape] + _TAIL
    bk = args.buckets
    cells = [
        ("perkey_4batch", 8, None),
        ("perkey_1batch", None, None),
        (f"bucket{bk}_4batch", 8, bk),
        (f"bucket{bk}_1batch", None, bk),
    ]
    only = set(args.cells.split(",")) if args.cells else None
    root = tempfile.mkdtemp(prefix=f"probe_{args.shape}_")
    out: dict = {"shape": args.shape, "n_events": args.n_events,
                 "buckets": bk}
    try:
        src = _gen(spark, root, args.n_events)
        schema = spark.read.parquet(src).schema
        for tag, fpt, buckets in cells:
            if only and tag not in only:
                continue
            out[tag] = _run(spark, src, schema, root, tag, fpt, buckets, cql,
                            args.n_events)
            print(json.dumps({tag: out[tag]}), file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
