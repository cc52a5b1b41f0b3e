"""The CQL plans the streaming workloads run, and the pattern-kernel replay.

The replay feeds each key's events, in event-time order, once into the
numpy kernel the streaming runtime dispatches for the plan's shape and once
into the general NFA (``_run_nfa``), and times both. The two must find the
same number of matches.
"""

from __future__ import annotations

import time

import numpy as np

# The plans are the streaming forms of __spark_entry__ entries that run on
# the testdata events: q_pattern_within, q_pattern_absence,
# q_sequence_quant_chain (without the quantifier) and q_window_time_batch.
WITHIN_MS = {"every2": 3_600_000, "chain": 4 * 86_400_000}  # 1 hour, 4 days
ABSENCE_FOR_MS = 300_000  # 5 min

PLANS = {
    "every2": (
        "partition with (user_id of events) begin "
        "from every e = events[event_type == 'error'] "
        "-> p = events[event_type == 'purchase'] within 1 hour "
        "select e.user_id as user_id, e.event_id as error_id, "
        "p.event_id as last_id insert into Out; end"
    ),
    "absence2": (
        "partition with (user_id of events) begin "
        "from every e = events[event_type == 'error'] "
        "-> not events[event_type == 'click'] for 5 min "
        "select e.user_id as user_id, e.event_id as error_id insert into Out; end"
    ),
    "chain": (
        "partition with (user_id of events) begin "
        "from every a = events[event_type == 'view'] "
        "-> b = events[event_type == 'click'] "
        "-> c = events[event_type == 'purchase'] within 4 days "
        "select a.user_id as user_id, a.event_id as view_id, b.event_id as click_id, "
        "c.event_id as last_id insert into Out; end"
    ),
    "timebatch": (
        "from events#window.timeBatch(1 hour) "
        "select event_type, count() as n, sum(value) as total "
        "group by event_type insert into Out"
    ),
}

# stage filters (event types) of the pattern plans, in stage order
STAGES = {"every2": ("error", "purchase"), "absence2": ("error", "click"),
          "chain": ("view", "click", "purchase")}


def register(spark, df, *extra_fields: str):
    """A SiddhiCEP with ``df`` registered as the ``events`` stream."""
    from flink_siddhi_spark import SiddhiCEP

    cep = SiddhiCEP(spark)
    cep.register_stream("events", df, "event_id", "user_id", "event_type", "value", "ts",
                        *extra_fields, ts_field="ts")
    return cep


def _elems(shape: str):
    from flink_siddhi_spark.siddhiql import ast as A

    n = len(STAGES[shape])
    elems = [A.PatternElem(stream="events", alias=f"s{i}") for i in range(n)]
    if shape == "absence2":
        elems[1] = A.PatternElem(stream="events", negated=True, for_ms=ABSENCE_FOR_MS)
    return elems


def replay_kernels(events: dict[str, np.ndarray], tracer) -> dict[str, dict]:
    """Per-key replay of the pattern plans; returns, per shape, the kernel
    and NFA seconds and match counts."""
    from flink_siddhi_spark.operators import pattern as P

    order = np.lexsort((events["ts"], events["user_id"]))
    users = events["user_id"][order]
    ts = events["ts"][order]
    etype = events["event_type"][order]
    bounds = np.flatnonzero(np.diff(users)) + 1
    groups = list(zip(np.concatenate([[0], bounds]), np.concatenate([bounds, [len(users)]])))

    out = {}
    for shape, types in STAGES.items():
        elems = _elems(shape)
        strict = [False] * (len(elems) - 1)
        got = P.kernel2_shape(elems, True, None, strict)
        if got != shape:
            raise RuntimeError(f"{shape}: runtime would dispatch {got!r}")
        within = WITHIN_MS.get(shape)
        masks_all = [etype == t for t in types]

        def kernel(t, m):
            if shape == "every2":
                return P.run_kernel2(t, m[0], m[1], 0, None, within, False)
            if shape == "absence2":
                return P.run_kernel2_absence(t, m[0], m[1], 0, None, within, ABSENCE_FOR_MS)
            return P.run_kernel_chain(t, m, 0, None, within)

        def nfa(t, m):
            return P._run_nfa(None, m, elems, strict, True, within, at_close=False,
                              start_idx=0, init=None, return_state=True, ts_vals=t)

        res = {}
        for engine, fn in (("kernel", kernel), ("nfa", nfa)):
            n_match = 0
            with tracer.span(f"pattern.{engine}", query=shape):
                t0 = time.perf_counter()
                for a, b in groups:
                    found, _ = fn(ts[a:b], [m[a:b] for m in masks_all])
                    n_match += len(found)
                res[f"{engine}_s"] = time.perf_counter() - t0
            res[f"{engine}_matches"] = n_match
        out[shape] = res
    return out
