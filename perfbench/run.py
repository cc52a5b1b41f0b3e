#!/usr/bin/env python3
"""The repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 10 --trace 0

Workloads: ``stream_drain``, ``batch_queries`` (see
perfbench/README.md). With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics of a
separate traced pass, and the spans go to ``perfbench/out/``. Earlier lines
print every metric by name with its unit. Exits non-zero, without a result
line, when the engine sources are missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import env  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

END_TO_END = {"setup_s": "s", "events_per_s": "1/s", "total_s": "s", "peak_rss_mb": "MB"}


class Context:
    def __init__(self, args, work: str, tracer):
        self.seed, self.seconds = args.seed, args.seconds
        self.work, self.tracer = work, tracer


class Result:
    """What one run measured and how many of its operations were correct."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = {}
        self.kernels: dict[str, dict] = {}
        self.per_query: dict[str, list[dict]] = {}
        self.info: dict[str, object] = {}

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, why: str) -> None:
        self.failures.append(why)

    def layers_exec(self, spark, before) -> None:
        after = env.ExecSnapshot(spark)
        d = after.delta(before)
        self.layers.update({
            "exec.jobs": d["jobs"], "exec.tasks": d["tasks"],
            "exec.task_s": d["task_ms"] / 1e3,
            "exec.shuffle_read_bytes": d["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": d["shuffle_write_bytes"],
        })
        for k, v in env.python_metrics(spark, before.max_exec).items():
            self.layers[f"exec.{k}"] = v

    def layers_streaming(self) -> None:
        tot: dict[str, float] = {}
        trig: list[float] = []
        offset = time.time() - time.perf_counter()
        for query, prog in self.progress.items():
            dig = env.progress_digest(prog)
            trig += dig.pop("trigger_ms")
            for k, v in dig.items():
                tot[k] = tot.get(k, 0.0) + v
            parent = next((s["id"] for s in reversed(self.tracer.spans)
                           if s["name"] == "drain" and s["query"] == query), None)
            for p in prog:
                start = _iso_epoch(p["timestamp"]) - offset
                dur = (p.get("durationMs") or {}).get("triggerExecution", 0) / 1e3
                self.tracer.add_span("microbatch", start, start + dur, query=query,
                                     parent=parent)
        for k in env.DURATIONS.values():
            self.layers[f"streaming.{k}"] = tot.get(k, 0.0)
        self.layers["streaming.batches"] = tot.get("batches", 0.0)
        self.layers["streaming.batch_ms_p50"] = statistics.median(trig) if trig else 0.0
        for k in ("rows_total", "memory_bytes", "update_ms", "commit_ms", "rows_updated"):
            self.layers[f"state.{k}"] = tot.get(f"state_{k}", 0.0)


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


PER_LAYER = {
    "siddhiql.parse_s": "s", "plans.build_s": "s", "plans.py4j_calls": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.run_s": "s", "exec.jobs": "count", "exec.tasks": "count", "exec.task_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.python_run_ms": "ms", "exec.python_start_ms": "ms",
    "exec.python_sent_bytes": "bytes", "exec.python_returned_bytes": "bytes",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.batch_ms_p50": "ms",
    "state.rows_total": "count", "state.memory_bytes": "bytes", "state.update_ms": "ms",
    "state.commit_ms": "ms", "state.rows_updated": "count",
    "pattern.kernel_s.every2": "s", "pattern.kernel_s.absence2": "s",
    "pattern.kernel_s.chain": "s",
    "pattern.nfa_s.every2": "s", "pattern.nfa_s.absence2": "s", "pattern.nfa_s.chain": "s",
    "trace.overhead_s": "s",
}


def load_workload(name: str):
    if name == "stream_drain":
        from perfbench.stream_drain import Workload
    else:
        from perfbench.batch_queries import Workload
    return Workload


def check_sources() -> None:
    """Fail fast, before any Spark start, when the engine is not here."""
    for rel in ("flink_siddhi_spark/__init__.py", "__spark_entry__.py",
                "scripts/verify_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {ROOT}; "
                             "run from a checkout of the repository")


def run(args) -> Result:
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers are forked by the JVM: they find the engine through the
    # environment the JVM inherits
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    tracer = Tracer(bool(args.trace), args.workload)
    ctx = Context(args, work, tracer)
    res = Result(tracer)
    spark = None
    sampler = None
    try:
        wl = load_workload(args.workload)(ctx)
        tracer.enabled = False  # set-up and checks stay out of the layer totals
        # one cold set-up: JVM and session start, engine import, warm-up
        t0 = time.perf_counter()
        spark = env.make_session(work)
        import __spark_entry__  # noqa: F401  engine import
        import flink_siddhi_spark  # noqa: F401
        if args.trace:
            env.hook_layers(spark, tracer)
        sampler = env.RssSampler(env.jvm_pid(spark)).__enter__()
        wl.warm_up(spark)
        res.e2e["setup_s"] = time.perf_counter() - t0
        # a traced run first makes an untraced pass of the same measurement:
        # the difference in pass time (total_s) is the tracing overhead
        passes = [(False, Result(tracer)), (True, res)] if args.trace else [(False, res)]
        for traced, r in passes:
            tracer.enabled = traced
            wl.measure(spark, r)
            tracer.enabled = False
            wl.check(spark, r)
        if args.trace:
            plain = passes[0][1]
            res.layers["trace.overhead_s"] = res.e2e["total_s"] - plain.e2e["total_s"]
            res.attempted += plain.attempted
            res.failures += plain.failures
        sampler.__exit__(None, None, None)  # stops sampling; safe to repeat
        res.e2e["peak_rss_mb"], res.info["memory_mb"] = env.peak_memory_mb(spark, sampler)
    finally:
        if sampler is not None:
            sampler.__exit__(None, None, None)
        if spark is not None:
            env.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return res


def finish_layers(res: Result) -> dict[str, float]:
    self_s = res.tracer.self_times()
    lay = dict.fromkeys(PER_LAYER, 0.0)
    lay.update({
        "siddhiql.parse_s": self_s.get("parse", 0.0),
        "plans.build_s": self_s.get("build", 0.0),
        "plans.py4j_calls": res.tracer.counters.get("py4j_calls.build", 0.0)
        + res.tracer.counters.get("py4j_calls.parse", 0.0),
    })
    for shape, k in res.kernels.items():
        lay[f"pattern.kernel_s.{shape}"] = k["kernel_s"]
        lay[f"pattern.nfa_s.{shape}"] = k["nfa_s"]
    lay.update(res.layers)
    return lay


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream_drain", "batch_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    check_sources()

    res = run(args)
    failed = len(res.failures)
    attempted = max(res.attempted, 1)
    for f in res.failures:
        print(f"FAIL {f}")
    for k, v in res.info.items():
        print(f"# {k}: {v}")
    if args.trace:
        lay = finish_layers(res)
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        res.tracer.write(os.path.join(out, f"trace_{args.workload}_{args.seed}.json"),
                         {"layers": lay, "info": res.info, "kernels": res.kernels,
                          "per_query": res.per_query, "progress": res.progress})
        metrics = {k: {"value": lay[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"fail_ratio {failed / attempted:.6g} ratio")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
