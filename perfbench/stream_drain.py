"""stream_drain: a seeded backlog drained with availableNow through four
CQL plans (every2, absence2, 3-step chain, timeBatch aggregate).

Closed loop: one plan drains at a time, the next starts when it ends. A
round drains all four plans; a run measures for ``--seconds`` and at least
``MIN_ROUNDS`` rounds, and reports medians over rounds.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import env, gen
from perfbench.plans import PLANS, register, replay_kernels

MIN_ROUNDS = 3

SCHEMA = "event_id long, user_id long, event_type string, value double, ts long"


def start(spark, src: str, plan: str, ck: str, sink: str, tracer):
    """Build the plan on a file stream over ``src`` and start an availableNow
    drain of it into a memory sink."""
    with tracer.span("build", query=plan):
        stream = spark.readStream.format("parquet").schema(SCHEMA).load(src)
        out = register(spark, stream).from_("events").cql(PLANS[plan]).returns("Out")
    return (out.writeStream.format("memory").queryName(sink)
            .option("checkpointLocation", ck).outputMode("append")
            .trigger(availableNow=True).start())


def await_ok(q, plan: str) -> None:
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{plan}: {q.exception()}")


def batch_twin(spark, src: str, plan: str):
    df = (spark.read.format("parquet").schema(SCHEMA).load(src)
          .where("event_type != 'flush'"))
    return register(spark, df).from_("events").cql(PLANS[plan]).returns("Out")


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "backlog")
        self.events = gen.drain_backlog(ctx.seed, self.src)
        self.n = len(self.events["event_id"])
        self.sink_no = 0

    def _sink(self):
        self.sink_no += 1
        return f"drain_{self.sink_no}"

    def warm_up(self, spark) -> None:
        # all four plans drain the backlog at once: the first run of each
        # operator in this session is paid here, not in the timed loop
        started = []
        for plan in PLANS:
            name = self._sink()
            started.append((plan, name, start(spark, self.src, plan, os.path.join(
                self.ctx.work, "ck", name), name, self.ctx.tracer)))
        for plan, name, q in started:
            await_ok(q, plan)
            spark.catalog.dropTempView(name)

    def measure(self, spark, res) -> None:
        ctx = self.ctx
        outputs = []
        walls: dict[str, list[float]] = {p: [] for p in PLANS}
        before = env.ExecSnapshot(spark) if ctx.tracer.enabled else None
        deadline = time.perf_counter() + ctx.seconds
        r = 0
        while r < MIN_ROUNDS or time.perf_counter() < deadline:
            for plan in PLANS:
                name = self._sink()
                t0 = time.perf_counter()
                with ctx.tracer.span("drain", query=f"{plan}#{r}"):
                    q = start(spark, self.src, plan, os.path.join(ctx.work, "ck", name),
                              name, ctx.tracer)
                    await_ok(q, plan)
                walls[plan].append(time.perf_counter() - t0)
                res.attempt()
                if ctx.tracer.enabled:
                    res.progress[f"{plan}#{r}"] = [json.loads(p.json) for p in q.recentProgress]
                outputs.append((plan, name))
            r += 1
        # a round drains every plan once; a plan's time is its median
        # over the rounds
        plan_s = {p: statistics.median(w) for p, w in walls.items()}
        res.e2e["total_s"] = sum(plan_s.values())
        res.e2e["events_per_s"] = self.n * len(PLANS) / res.e2e["total_s"]
        res.info["rounds_s"] = [round(sum(w[i] for w in walls.values()), 3) for i in range(r)]
        res.info["plan_s"] = {p: round(v, 3) for p, v in plan_s.items()}
        res.info["backlog_events"] = self.n
        if ctx.tracer.enabled:
            res.layers_exec(spark, before)
            res.layers["exec.run_s"] = ctx.tracer.self_times().get("drain", 0.0)
            res.layers_streaming()
            res.kernels = replay_kernels(self.events, ctx.tracer)
        self.outputs = outputs

    def check(self, spark, res) -> None:
        """Every drain's output must equal the batch cql() twin's."""
        from scripts.verify_oracle import canon

        def rows(df):
            cols = sorted(df.columns)
            return canon([tuple(r[c] for c in cols) for r in df.collect()])

        with ThreadPoolExecutor(len(PLANS)) as pool:
            twins = {p: pool.submit(lambda p: rows(batch_twin(spark, self.src, p)), p)
                     for p in PLANS}
            want = {p: f.result() for p, f in twins.items()}
        for plan, name in self.outputs:
            got = rows(spark.sql(f"SELECT * FROM {name}"))
            spark.catalog.dropTempView(name)
            if got != want[plan] or not got:
                res.fail(f"{plan}: streaming {len(got)} rows != batch twin "
                         f"{len(want[plan])} rows")
        res.info["twin_rows"] = {p: len(v) for p, v in want.items()}
        if res.kernels:
            for shape, k in res.kernels.items():
                if k["kernel_matches"] != k["nfa_matches"]:
                    res.fail(f"replay {shape}: kernel {k['kernel_matches']} "
                             f"!= nfa {k['nfa_matches']} matches")
