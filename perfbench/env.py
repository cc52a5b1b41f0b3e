"""SparkSession set-up and the outside-in probes of the engine's layers.

Layer numbers come from Spark's own status stores, the streaming progress
reports and ``/proc``; two wrappers (``hook_layers``) time the engine's calls
into its parser and count its calls over py4j. No engine code changes.
"""

from __future__ import annotations

import os
import re
import threading

CORES = 4
HEAP = "1536m"
YOUNG = "512m"


def make_session(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.ui.enabled", "false")
        # no per-session artifact directories for the Python workers
        .config("spark.sql.artifact.isolation.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", HEAP)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the whole heap is committed and touched at start, so its share of
        # the JVM's resident size is known (see peak_memory_mb); a fixed
        # young generation keeps the heap's peak use from following the
        # collector's sizing. The JIT stops at C1: with C2 the JVM kept
        # getting faster for about 70 s, through every timed round.
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -Xmn{YOUNG} "
                "-XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM process has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


# ------------------------------------------------------------------ memory
def _proc_tree(root: int, min_age_s: float) -> list[int]:
    """``root`` and its descendants that have lived ``min_age_s`` or more.

    Young processes are skipped: the JVM spawns short-lived helpers, and a
    child caught between fork and exec still reports its parent's RSS."""
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    tick = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if now - int(fields[19]) / tick >= min_age_s:
            kids.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of a process tree (the Spark JVM and the Python
    workers it forks), sampled from /proc every ``period`` seconds."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root, self.period = root_pid, period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in _proc_tree(self.root, min_age_s=1.0))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_memory_mb(spark, sampler: RssSampler) -> tuple[float, dict]:
    """Peak memory of the JVM and its Python workers, with the heap counted
    at its peak use instead of its resident size.

    The heap is committed and touched at start, so the sampled RSS always
    holds all of it; the heap pools' peak use (the sum of each pool's peak,
    from the JVM's own accounting) replaces it, so heap growth (e.g. the
    state store's maps) moves the figure. Returns the figure and its parts."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    pools = mf.getMemoryPoolMXBeans()
    peak = sum(p.getPeakUsage().getUsed() for p in pools if p.getType().name() == "HEAP")
    mb = 1024.0 ** 2
    parts = {"rss_peak": round(sampler.peak_mb, 1), "heap_committed": round(committed / mb, 1),
             "heap_peak_used": round(peak / mb, 1)}
    return sampler.peak_mb - committed / mb + peak / mb, parts


# ------------------------------------------------------------ layer hooks
def hook_layers(spark, tracer) -> None:
    """Wrap two calls the engine makes into its layers, once per process:
    the SiddhiQL parser (span ``parse``) and the py4j client's
    ``send_command`` (counter ``py4j_calls.<innermost span>``)."""
    from flink_siddhi_spark import cep
    from flink_siddhi_spark.siddhiql import parser

    orig_parse = parser.parse

    def parse(text):
        with tracer.span("parse"):
            return orig_parse(text)

    parser.parse = cep.parse = parse

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def counted(*a, **kw):
        tracer.count_in_span("py4j_calls")
        return send(*a, **kw)

    client.send_command = counted


# ------------------------------------------------------------ status stores
def _flush(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class ExecSnapshot:
    """Executor and application totals from the core status store; the
    difference of two snapshots is the work done in between."""

    FIELDS = ("jobs", "tasks", "task_ms", "shuffle_read_bytes", "shuffle_write_bytes")

    def __init__(self, spark):
        _flush(spark)
        store = spark.sparkContext._jsc.sc().statusStore()
        ex = store.executorList(True)
        tasks = task_ms = sr = sw = 0
        for i in range(ex.size()):
            e = ex.apply(i)
            tasks += e.totalTasks()
            task_ms += e.totalDuration()
            sr += e.totalShuffleRead()
            sw += e.totalShuffleWrite()
        self.v = {"jobs": store.appSummary().numCompletedJobs(), "tasks": tasks,
                  "task_ms": task_ms, "shuffle_read_bytes": sr,
                  "shuffle_write_bytes": sw}
        sql = spark._jsparkSession.sharedState().statusStore()
        el = sql.executionsList()
        self.max_exec = max((el.apply(i).executionId() for i in range(el.size())), default=-1)

    def delta(self, before: "ExecSnapshot") -> dict[str, float]:
        return {k: self.v[k] - before.v[k] for k in self.FIELDS}


PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}
_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "B": 1.0, "KiB": 1024.0,
          "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
_NUM = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def _metric_total(text: str) -> float:
    # SQL metric strings read "7.0 s" or "total (min, med, max ...)\n7.0 s (...)"
    m = _NUM.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def python_metrics(spark, after_exec_id: int) -> dict[str, float]:
    """Python-worker SQL metrics of every SQL execution newer than
    ``after_exec_id`` (ms for times, bytes for sizes)."""
    _flush(spark)
    sql = spark._jsparkSession.sharedState().statusStore()
    el = sql.executionsList()
    out = dict.fromkeys(PY_METRICS.values(), 0.0)
    for i in range(el.size()):
        x = el.apply(i)
        if x.executionId() <= after_exec_id:
            continue
        values = sql.executionMetrics(x.executionId())
        seen = set()
        ms = x.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            key = PY_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[key] += _metric_total(v.get())
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan and return Catalyst's phase times (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = phases.get(k)
        out[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


# ------------------------------------------------------- streaming progress
DURATIONS = {"addBatch": "add_batch_ms", "queryPlanning": "query_planning_ms",
             "latestOffset": "latest_offset_ms", "walCommit": "wal_commit_ms",
             "commitOffsets": "commit_offsets_ms"}


def progress_digest(progress: list[dict]) -> dict[str, float]:
    """Sum a query's micro-batch progress reports into per-layer totals."""
    out = dict.fromkeys(list(DURATIONS.values()) + [
        "batches", "state_rows_total", "state_memory_bytes", "state_update_ms",
        "state_commit_ms", "state_rows_updated"], 0.0)
    trig = []
    for p in progress:
        d = p.get("durationMs") or {}
        for k, name in DURATIONS.items():
            out[name] += d.get(k, 0)
        trig.append(d.get("triggerExecution", 0))
        out["batches"] += 1
        ops = p.get("stateOperators") or []
        out["state_update_ms"] += sum(o.get("allUpdatesTimeMs", 0) for o in ops)
        out["state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        out["state_rows_updated"] += sum(o.get("numRowsUpdated", 0) for o in ops)
    if progress:
        ops = progress[-1].get("stateOperators") or []
        out["state_rows_total"] = sum(o.get("numRowsTotal", 0) for o in ops)
        out["state_memory_bytes"] = max(
            sum(o.get("memoryUsedBytes", 0) for o in (p.get("stateOperators") or []))
            for p in progress)
    out["trigger_ms"] = trig
    return out
