#!/usr/bin/env python3
"""Round-10 probe (VERDICT r9 ask #3): 10M hot-key drains for the surfaces
that gained bucketed key grouping this round — ``retention_pairs_stream``,
``streaming_asof_enrich`` — plus the round-9 ``window_key_buckets`` generic
adapter, which was parity-tested but never measured at probe scale.

Same hot-key generator shape as probe_patterns.py: user 1 at ~10%, rest
over 100k users, ts-ordered 10ms steps, 4 waves -> maxFilesPerTrigger=8
gives a 4-micro-batch drain (the per-key-visit floor regime bucketing
amortizes).

Usage: python scripts/probe_r10.py [n_events] [buckets] [cells,csv]
Prints one JSON line; summarize into SCALE.md §Round-10.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N_EVENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
BUCKETS = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
N_WAVES = 4

WINDOW_CQL = (
    "from E#window.lengthBatch(100) select user_id, count() as n, "
    "sum(value) as total group by user_id insert into Out;"
)


def _gen(spark, root: str, day_spread: bool) -> str:
    """Hot-key feed; ``day_spread`` stretches ts to ~35 days (retention
    needs multiple UTC days; the others keep the dense 10ms timeline)."""
    src = os.path.join(root, "in_day" if day_spread else "in")
    per = N_EVENTS // N_WAVES
    step = 300 if day_spread else 10  # 300ms*10M = ~35 days
    for b in range(N_WAVES):
        df = (
            spark.range(b * per, (b + 1) * per)
            .select(
                F.col("id").alias("event_id"),
                F.when(F.col("id") % 10 == 0, F.lit(1))
                .otherwise((F.col("id") % 100_000) + 10).alias("user_id"),
                (F.col("id") % 97).cast("double").alias("value"),
                (F.lit(1_700_000_000_000) + F.col("id") * step).alias("ts_ms"),
            )
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        )
        df.coalesce(8).write.mode("append").parquet(src)
    return src


def _gen_right(spark, root: str) -> str:
    """Small as-of right feed: one dimension update per user per ~day."""
    src = os.path.join(root, "in_right")
    n = 300_000
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 3 == 0, F.lit(1))
            .otherwise((F.col("id") % 100_000) + 10).alias("user_id"),
            (F.col("id") % 13).cast("double").alias("price"),
            (F.lit(1_700_000_000_000) + F.col("id") * (N_EVENTS * 10 // n))
            .alias("ts_ms"),
        )
    )
    df.coalesce(8).write.mode("append").parquet(src)
    return src


def _drain(root, tag, plan):
    t0 = time.time()
    q = (
        plan.writeStream.format("noop")
        .option("checkpointLocation", os.path.join(root, f"ck_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(7200)
    dt = time.time() - t0
    peak_state, batches, out_rows = 0, 0, 0
    for p in q.recentProgress:
        batches += 1
        out_rows += p.get("sink", {}).get("numOutputRows", 0) or 0
        for so in p.get("stateOperators", []):
            peak_state = max(peak_state, so.get("numRowsTotal", 0))
    return {
        "sec": round(dt, 2),
        "events_per_sec": int(N_EVENTS / dt),
        "peak_state_rows": peak_state,
        "micro_batches": batches,
        "sink_rows": out_rows,
    }


def run_retention(spark, src, schema, root, tag, buckets):
    from flink_siddhi_spark.analytics import retention_pairs_stream

    stream = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "8").load(src)
    )
    out = retention_pairs_stream(
        stream, user_col="user_id", ts_col="ts", watermark="0 seconds",
        key_buckets=buckets,
    )
    return _drain(root, tag, out)


def run_asof(spark, src_l, src_r, schema_l, schema_r, root, tag, buckets):
    from flink_siddhi_spark.streaming.asof import streaming_asof_enrich

    left = (
        spark.readStream.format("parquet").schema(schema_l)
        .option("maxFilesPerTrigger", "8").load(src_l)
        .select("event_id", "user_id", "ts_ms")
    )
    right = (
        spark.readStream.format("parquet").schema(schema_r).load(src_r)
        .select("user_id", "ts_ms", "price")
    )
    out = streaming_asof_enrich(
        left, right, on="user_id", left_ts="ts_ms", right_ts="ts_ms",
        payload=["price"], key_buckets=buckets,
    )
    return _drain(root, tag, out)


def run_window(spark, src, schema, root, tag, buckets):
    from flink_siddhi_spark.schema import StreamSchema
    from flink_siddhi_spark.siddhiql.parser import parse
    from flink_siddhi_spark.streaming.runtime import StreamingPlanner

    stream = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "8").load(src)
        .select("event_id", "user_id", "value", "ts_ms")
    )
    catalog = {"E": StreamSchema(
        "E", stream, ["event_id", "user_id", "value", "ts_ms"],
        ts_field="ts_ms")}
    planner = StreamingPlanner(
        catalog, watermark_delay="10 seconds", window_key_buckets=buckets
    )
    df = planner.compile_query(parse(WINDOW_CQL).queries[0])
    return _drain(root, tag, df)


def main() -> int:
    spark = (
        SparkSession.builder
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("r10-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="r10probe_")
    out: dict = {"n_events": N_EVENTS, "buckets": BUCKETS}
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    try:
        src = _gen(spark, root, day_spread=False)
        schema = spark.read.parquet(src).schema
        src_day = _gen(spark, root, day_spread=True)
        src_r = _gen_right(spark, root)
        schema_r = spark.read.parquet(src_r).schema
        cells = [
            ("retention_perkey", lambda t: run_retention(
                spark, src_day, schema, root, t, None)),
            (f"retention_bucket{BUCKETS}", lambda t: run_retention(
                spark, src_day, schema, root, t, BUCKETS)),
            ("asof_perkey", lambda t: run_asof(
                spark, src, src_r, schema, schema_r, root, t, None)),
            (f"asof_bucket{BUCKETS}", lambda t: run_asof(
                spark, src, src_r, schema, schema_r, root, t, BUCKETS)),
            ("window_perkey", lambda t: run_window(
                spark, src, schema, root, t, None)),
            (f"window_bucket{BUCKETS}", lambda t: run_window(
                spark, src, schema, root, t, BUCKETS)),
        ]
        for tag, fn in cells:
            if only and tag not in only:
                continue
            out[tag] = fn(tag)
            print(json.dumps({tag: out[tag]}), file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
