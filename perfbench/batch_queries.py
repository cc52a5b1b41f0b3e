"""batch_queries: ``__spark_entry__.queries()`` entries run to their full
output with a ``noop`` write, over seeded tables in the testdata schema.

Closed loop: one entry at a time. Each entry's time runs from the registry
call (parse + DataFrame build) to the end of the ``noop`` write (Catalyst +
execution).
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import env, gen

# the median of three passes per entry
MIN_PASSES = 3

# entry -> the tables it reads (for the rows-read rate)
ENTRIES = {
    # CQL-heavy plan build
    "join_windowed_family": ("events",),
    # execution-heavy relational
    "tpch_q1_pricing": ("lineitem",),
    # batch pattern
    "pattern_followed_by": ("events",),
    # llm/ operators
    "dedup_minhash_lsh": ("documents",),
    "ann_ivf_topk": ("embeddings",),
    "text_quality": ("documents",),
}


def table_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "tables")
        gen.batch_tables(ctx.seed, self.dir)
        self.rows_read = sum(table_rows(os.path.join(self.dir, f"{t}.parquet"))
                             for ts in ENTRIES.values() for t in ts)

    def warm_up(self, spark) -> None:
        import __spark_entry__

        qs = __spark_entry__.queries()
        self.entries = {name: qs[name] for name in ENTRIES}

        # every entry once, four at a time
        def one(fn):
            fn(spark, self.dir).write.format("noop").mode("overwrite").save()

        with ThreadPoolExecutor(4) as pool:
            for f in [pool.submit(one, fn) for fn in self.entries.values()]:
                f.result()

    def run_entry(self, spark, name: str, fn, res) -> float:
        tracer = self.ctx.tracer
        before = env.ExecSnapshot(spark) if tracer.enabled else None
        t0 = time.perf_counter()
        with tracer.span("query", query=name):
            with tracer.span("build", query=name):
                df = fn(spark, self.dir)
            if tracer.enabled:
                with tracer.span("plan", query=name):
                    phases = env.catalyst_phases(df)
            with tracer.span("execute", query=name):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        if tracer.enabled:
            for k, v in phases.items():
                res.layers[f"catalyst.{k}_ms"] = res.layers.get(f"catalyst.{k}_ms", 0.0) + v
            res.per_query.setdefault(name, []).append(
                {"wall_s": wall, **{f"{k}_ms": v for k, v in phases.items()},
                 **env.ExecSnapshot(spark).delta(before)})
        return wall

    def measure(self, spark, res) -> None:
        ctx = self.ctx
        times: dict[str, list[float]] = {n: [] for n in self.entries}
        before = env.ExecSnapshot(spark) if ctx.tracer.enabled else None
        deadline = time.perf_counter() + ctx.seconds
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() < deadline:
            for name, fn in self.entries.items():
                times[name].append(self.run_entry(spark, name, fn, res))
                res.attempt()
            passes += 1
        per_entry = {n: statistics.median(v) for n, v in times.items()}
        res.e2e["total_s"] = sum(per_entry.values())
        res.e2e["events_per_s"] = self.rows_read / res.e2e["total_s"]
        res.info["pass_s"] = [round(sum(v[i] for v in times.values()), 3)
                              for i in range(passes)]
        res.info["entry_s"] = {n: round(v, 4) for n, v in per_entry.items()}
        if ctx.tracer.enabled:
            res.layers_exec(spark, before)
            self_s = ctx.tracer.self_times()
            res.layers["exec.run_s"] = self_s.get("execute", 0.0)
        self.passes = passes

    def check(self, spark, res) -> None:
        """Each entry's output must match its DuckDB oracle_sql() twin."""
        import duckdb
        from scripts.verify_oracle import canon

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in os.listdir(self.dir):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(self.dir, t)}'")
        def collect(fn):
            df = fn(spark, self.dir)
            cols = sorted(df.columns)
            return cols, canon([tuple(r[c] for c in cols) for r in df.collect()])

        with ThreadPoolExecutor(4) as pool:
            outs = {n: pool.submit(collect, fn) for n, fn in self.entries.items()}
            outs = {n: f.result() for n, f in outs.items()}
        for name, (cols, got) in outs.items():
            cur = con.execute(oracles[name])
            raw = [d[0] for d in cur.description]
            idx = [raw.index(c) for c in sorted(raw)]
            want = canon([tuple(r[i] for i in idx) for r in cur.fetchall()])
            res.info[f"rows.{name}"] = len(want)
            if sorted(raw) != cols or got != want or not want:
                res.fail(f"{name}: {len(got)} rows != oracle {len(want)} rows")
                # every timed run of the entry produced this output
                res.failures += [f"{name} (timed run)"] * (self.passes - 1)
        con.close()
