"""Streaming compilation: the same SiddhiQL plans over Structured Streaming.

Design (SURVEY.md §3.1 "Spark re-architecture", §7.0 dual-mode): batch mode
defines the semantics (oracle-checked); this module lowers the same AST onto
streaming DataFrames where Structured Streaming has a native shape:

- row-wise filter/projection/scalar functions: identical DataFrame ops.
- windowless group aggregation: streaming agg (update mode).
- ``#window.timeBatch(t)`` -> ``groupBy(window(ts, t))`` + watermark.
- ``#window.session(gap)`` -> ``session_window`` + watermark.
- stream-static (event-table) joins: native.
- stream-stream time-window joins: the batch join predicates plus watermarks
  and event-time range bounds added in operators/joins.py (compile_join is
  streaming-aware) so Spark's symmetric hash join can evict state; count
  (length) window joins are rejected — they need a total arrival order.
- pattern/sequence: per-key NFA in ``applyInPandasWithState`` — the same
  matcher as batch mode (operators/pattern.py) over a state-buffered,
  event-time-sorted feed, emitting only not-yet-emitted matches per batch.
  The reference buffers+sorts in a priority queue before feeding its engine
  (AbstractSiddhiOperator.java:209-247); the state buffer here plays that
  role, with a configurable retention cap instead of unbounded state.

- ``#window.lengthBatch(n)`` / ``#window.length(n)``: custom stateful count
  windows (applyInPandasWithState) — per-key buffered chunks / ring buffer,
  per-flush / per-arrival emission (SURVEY.md §7.2 "custom stateful").
- ``#window.time(t)`` (and ``externalTime`` on the event-time field):
  per-arrival trailing time window via a per-key stateful buffer of the
  last t ms (batch ``rangeBetween(-t, 0)`` contract).
- ``#window.timeLength(t, n)``: the length ring + time eviction relative
  to the arriving event (round 4) — state bounded by min(n, rate*t).
- ``#window.cron`` (fixed + calendar/quartz) and ``externalTimeBatch``:
  bucket-expression grouping in update/complete mode (round 4).
- incremental aggregations (`per 'sec..day'`): aligned tumbling window aggs.
- event tables: continuous DML via foreachBatch (streaming/tables.py).

Retention windows: row-wise ``unique``/``firstUnique`` stream as keyed
last/first-event state; ``sort``/``frequent``/``lossyFrequent`` stream as
per-micro-batch SNAPSHOTS of the retained contents (each row tagged
``__snapshot``; max id = current contents — PARITY.md §15); ``delay``
shifts the event-time columns row-wise and ``batch()`` passes rows
through. Aggregates over retention windows and order/limit are batch-only
— the planner raises a clear error. Month/year incremental-aggregation
granularities stream via synthesized calendar-cron buckets (round 4).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..errors import SiddhiPlannerException, UnsupportedFeatureException
from ..plans.expr import ExprCompiler
from ..plans.planner import TS_COL, BatchPlanner
from ..siddhiql import ast as A
from ..operators import windows as W
from ..operators.pattern import (
    PK_COL,
    STREAM_COL,
    _vec,
    kernel2_shape,
    run_shape,
)

# Streaming #window.sort / #window.frequent emit per-micro-batch SNAPSHOTS of
# the window's retained contents; each output row carries the snapshot id and
# the rows with the max id per state key are the current contents (PARITY.md).
SNAPSHOT_COL = "__snapshot"


def _retention_spec(window, schema, out_cols, ord_cols) -> dict:
    """Parse a retention window's arguments (#window.sort / frequent /
    lossyFrequent / unique / firstUnique / batch / delay) into ONE spec
    dict shared by the row-snapshot and revised-aggregate stateful
    operators — a single copy of the retention semantics so the two
    cannot drift."""
    wname = window.name.lower()
    spec = {
        "wname": wname, "sort_by": None, "sort_asc": None, "top_n": None,
        "combo_keys": None, "freq_n": None, "min_frac": None,
        "ukeys": None, "keep": "last",
    }
    if wname == "sort":
        n, sort_keys = W._sort_args(window)
        spec["top_n"] = n
        spec["sort_by"] = [k for k, _ in sort_keys] + ord_cols
        spec["sort_asc"] = [asc for _, asc in sort_keys] + [True] * len(ord_cols)
    elif wname in ("frequent", "lossyfrequent"):
        if wname == "lossyfrequent":
            # retained combos are those with count >= (support - error) *
            # total (the batch exact-count contract) instead of the top-n
            support = W._arg_num(window, 0)
            idx, error = 1, 0.0
            if len(window.args) > 1 and isinstance(window.args[1], A.Literal) \
                    and window.args[1].kind in ("float", "double"):
                error = W._arg_num(window, 1)
                idx = 2
            spec["min_frac"] = support - error
        else:
            spec["freq_n"] = W._arg_ms(window, 0)
            idx = 1
        ck = [a.name for a in window.args[idx:] if isinstance(a, A.Ref)]
        spec["combo_keys"] = ck or [f for f in schema.fields if f in out_cols]
    elif wname in ("unique", "firstunique"):
        ukeys = [a.name for a in window.args if isinstance(a, A.Ref)]
        if not ukeys:
            raise SiddhiPlannerException(
                f"#window.{window.name} needs key attribute(s)"
            )
        spec["ukeys"] = ukeys
        spec["keep"] = "first" if wname == "firstunique" else "last"
    # batch / delay: retain everything
    return spec


def _retain(rows: pd.DataFrame, spec: dict):
    """(rows_to_store, retained) for one state key under ``spec``. The
    caller pre-sorts ``rows`` by the batch total order (ord_cols); the
    retained frame comes back ordered only as far as the retention rules
    order it — each caller applies its own output ordering."""
    wname = spec["wname"]
    if wname == "sort":
        rows = (
            rows.sort_values(spec["sort_by"], ascending=spec["sort_asc"],
                             kind="mergesort")
            .head(spec["top_n"]).reset_index(drop=True)
        )
        return rows, rows
    if wname in ("frequent", "lossyfrequent"):
        ck = spec["combo_keys"]
        counts = (
            rows.groupby(ck, sort=False, dropna=False)
            .size()
            .reset_index(name="__n")
            .sort_values(["__n"] + ck, ascending=[False] + [True] * len(ck),
                         kind="mergesort")
        )
        if spec["min_frac"] is not None:
            top = counts[counts["__n"] >= spec["min_frac"] * len(rows)][ck]
        else:
            top = counts.head(spec["freq_n"])[ck]
        return rows, rows.merge(top, on=ck, how="inner")
    if wname in ("unique", "firstunique"):
        rows = rows.drop_duplicates(spec["ukeys"], keep=spec["keep"]).reset_index(
            drop=True
        )
        return rows, rows
    return rows, rows  # batch / delay: everything


class StreamingPlanner(BatchPlanner):
    """Lowers the SiddhiQL AST onto streaming DataFrames.

    ``watermark_delay`` (e.g. "10 seconds") is applied to every event-time
    stream — the knob the reference lacks (it drains on Flink watermarks,
    AbstractSiddhiOperator.java:237-247).
    """

    def __init__(self, catalog, extensions=None, watermark_delay: str = "10 seconds",
                 max_buffer_per_key: int = 100_000, aggregations=None,
                 pattern_key_buckets: Optional[int] = None,
                 window_key_buckets: Optional[int] = None,
                 pattern_state_purge: bool = False):
        super().__init__(catalog, extensions, aggregations)
        self.watermark_delay = watermark_delay
        self.max_buffer_per_key = max_buffer_per_key
        # state GC for evictable every-patterns (round 10): arm an
        # event-time timer at each key's eviction horizon and REMOVE keys
        # whose buffer and live partials drained — state rows then track
        # ACTIVE keys, not lifetime keys (bounded under session-id churn).
        # OPT-IN, mirroring the reference engine's @purge annotation
        # (Siddhi partition state also lives forever unless purging is
        # enabled): the horizon sweep pays one timed-out visit per drained
        # key, which bounded-drain benchmarks would otherwise book as
        # throughput loss. Keys that drain AT a data visit are removed for
        # free in either mode.
        self.pattern_state_purge = pattern_state_purge
        # key-heavy amortization (round 9): when set, pattern queries group
        # by pmod(xxhash64(key), N) instead of the raw key, multiplexing
        # ~keys/N keys through ONE Arrow group + GroupState visit per
        # micro-batch. The per-key compute is unchanged (the same _key_step
        # runs per key inside the bucket); what's amortized is the fixed
        # per-key-VISIT machinery (~280us/visit measured: Arrow group slice,
        # GroupState proto round-trip) that dominates drains over 10^5 keys.
        # Checkpoint state formats differ between modes — pick at plan time.
        if pattern_key_buckets is not None and pattern_key_buckets < 1:
            raise SiddhiPlannerException(
                f"pattern_key_buckets must be >= 1, got {pattern_key_buckets}"
            )
        self.pattern_key_buckets = pattern_key_buckets
        # same lever for the per-key stateful WINDOW lowerings
        # (length/lengthBatch/timeLength/time/unique) via the generic
        # adapter in streaming/bucketing.py — the per-key procs run
        # unchanged against a per-key GroupState shim inside the bucket
        if window_key_buckets is not None and window_key_buckets < 1:
            raise SiddhiPlannerException(
                f"window_key_buckets must be >= 1, got {window_key_buckets}"
            )
        self.window_key_buckets = window_key_buckets

    # ------------------------------------------------------------------ utils
    def _event_time_col(self, schema) -> Optional[str]:
        return schema.ts_field

    def _with_watermark(self, df: DataFrame, schema) -> DataFrame:
        if schema.ts_field is None or not df.isStreaming:
            return df
        dt = dict(df.dtypes).get(schema.ts_field, "")
        tcol = "__event_time"
        if dt.startswith("timestamp"):
            df = df.withColumn(tcol, F.col(schema.ts_field).cast("timestamp"))
        else:
            df = df.withColumn(tcol, F.timestamp_millis(F.col(schema.ts_field).cast("bigint")))
        return df.withWatermark(tcol, self.watermark_delay)

    # --------------------------------------------------------------- override
    def _compile_single(self, q: A.Query) -> DataFrame:
        si: A.SingleInput = q.input
        schema = self.stream_schema(si.stream)
        df, _ = self.stream_df(si.stream)
        if not schema.df.isStreaming:
            return super()._compile_single(q)
        retain = W.classify(si.window, self.extensions) == "retain"
        wname = si.window.name.lower() if si.window is not None else ""
        if retain:
            if wname not in ("unique", "firstunique", "sort", "frequent",
                             "lossyfrequent", "delay", "batch"):
                raise UnsupportedFeatureException(
                    f"#window.{si.window.name}: retention windows follow the "
                    "final-contents contract — batch mode only (streaming "
                    "supports unique/firstUnique/sort/frequent/"
                    "lossyFrequent/delay/batch, row-wise or aggregated)"
                )
        df = self._with_watermark(df, schema)
        names = {si.stream, si.alias} if si.alias else {si.stream}
        resolver = self._plain_resolver(set(df.columns), names)
        comp = self._compiler(resolver, df)
        if si.filter is not None:
            df = df.filter(comp.compile(si.filter))
        if getattr(si, "stream_fns", ()):
            # same contract as batch: applied in order between filter and
            # window; builders must use streaming-safe transforms
            df = self._apply_stream_fns(df, si, set(df.columns))
            resolver = self._plain_resolver(set(df.columns), names)
        extra_cols: tuple = ()
        if retain and self._query_has_agg(q):
            # round 5: REVISED aggregates over the retained set — each
            # micro-batch updates the retained contents in keyed state and
            # emits the full re-aggregated result tagged with a __snapshot
            # id (a changelog: rows carrying the max id are the current
            # revision, and after the final batch they equal the batch-mode
            # aggregate — the same contract as the row snapshots).
            if wname == "delay":
                df = self._shift_delay(df, si, schema)
            return self._streaming_retained_agg(
                df, q, si, schema, (q.partition_by or {}).get(si.stream)
            )
        if retain:
            if wname == "delay":
                df = self._shift_delay(df, si, schema)
            elif wname == "batch":
                pass  # retains everything: row-wise pass-through
            elif wname in ("unique", "firstunique"):
                df = self._streaming_unique(df, si, schema)
            else:
                pkey = (q.partition_by or {}).get(si.stream)
                df = self._streaming_retention_snapshot(df, si, schema, pkey)
                extra_cols = (SNAPSHOT_COL,)
        if not self._query_has_agg(q):
            if q.order_by or q.limit is not None:
                raise UnsupportedFeatureException("order by / limit need batch mode")
            return self._select_rowwise(df, q, resolver, schema.fields, extra_cols)
        return self._streaming_agg(df, q, si, resolver)

    def _shift_delay(self, df: DataFrame, si: A.SingleInput, schema) -> DataFrame:
        """#window.delay — identical to batch: shift the event-time columns
        by t. ``eventTimestamp()`` reads ``TS_COL``, so shift it and the
        raw ts attribute together."""
        if schema.ts_field is None:
            raise SiddhiPlannerException("#window.delay needs an event-time stream")
        shift = W._arg_ms(si.window, 0)
        df = df.withColumn(schema.ts_field, F.col(schema.ts_field) + F.lit(shift))
        if TS_COL in df.columns:
            df = df.withColumn(TS_COL, F.col(TS_COL) + F.lit(shift))
        return df

    def _streaming_unique(self, df: DataFrame, si: A.SingleInput, schema) -> DataFrame:
        """Keyed last/first-event state for #window.unique / firstUnique.

        firstUnique: only the first event per key is ever emitted (exactly
        the batch final-contents contract when arrival follows event time).
        unique: each batch emits the key's new representative iff it is
        later (by the batch total order) than the stored one — a changelog
        whose latest row per key IS the batch final-contents result.
        State per key is one ord-tuple string — O(#keys), no row buffering."""
        first = si.window.name.lower() == "firstunique"
        keys = [a.name for a in si.window.args if isinstance(a, A.Ref)]
        if not keys:
            raise SiddhiPlannerException(f"#window.{si.window.name} needs key attribute(s)")
        out_cols = [c for c in df.columns if c != "__event_time"]
        out_schema = T.StructType([f for f in df.schema.fields if f.name in out_cols])
        ord_cols = ([TS_COL] if schema.ts_field is not None else []) + [
            f for f in schema.fields if f != schema.ts_field
        ]
        ord_cols = [c for c in ord_cols if c in out_cols]
        state_schema = T.StructType([T.StructField("ord", T.StringType())])

        def proc(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
            import json as _json

            rows = pd.concat([p[out_cols] for p in pdfs], ignore_index=True)
            rows = rows.sort_values(ord_cols, kind="mergesort").reset_index(drop=True)

            def ord_of(i):
                out = []
                for c in ord_cols:
                    v = rows[c].iloc[i]
                    if isinstance(v, pd.Timestamp):
                        out.append(v.isoformat())
                    elif hasattr(v, "item"):  # numpy scalar -> python
                        out.append(v.item())
                    else:
                        out.append(v)
                return out

            if first:
                if state.exists:
                    yield rows.iloc[0:0]
                    return
                state.update(("1",))
                yield rows.iloc[[0]]
                return
            cand = len(rows) - 1
            cand_ord = ord_of(cand)
            if state.exists:
                (stored,) = state.get
                if _json.loads(stored) >= cand_ord:
                    yield rows.iloc[0:0]
                    return
            state.update((_json.dumps(cand_ord),))
            yield rows.iloc[[cand]]

        if self.window_key_buckets:
            from .bucketing import bucketed_stateful

            return bucketed_stateful(
                df, keys, self.window_key_buckets, proc, out_schema,
                GroupStateTimeout.NoTimeout,
            )
        return df.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
            proc, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )

    def _streaming_retention_snapshot(
        self, df: DataFrame, si: A.SingleInput, schema, pkey: Optional[str]
    ) -> DataFrame:
        """#window.sort / #window.frequent in streaming mode.

        Keyed state holds the window's retained contents; every micro-batch
        that touches a key emits the key's FULL new contents tagged with a
        monotonically increasing ``__snapshot`` id — the rows carrying the
        max id are the current window contents, and after the final batch
        they equal the batch-mode result (tests assert this contract).

        State: sort keeps at most n rows per key (bounded); frequent keeps
        every event of the key (exact counts — the same retained-event
        growth as the reference's frequent window; at corpus scale use the
        batch path or a ``partition with`` key to shard it). Without
        ``partition with`` the state lives under one global key —
        single-task by semantic necessity, mirroring the batch global-order
        constraint (warn_global_order fires)."""
        wname = si.window.name.lower()
        out_cols = [c for c in df.columns if c != "__event_time"]
        ord_cols = ([TS_COL] if schema.ts_field is not None else []) + [
            f for f in schema.fields if f != schema.ts_field
        ]
        ord_cols = [c for c in ord_cols if c in out_cols]
        out_schema = T.StructType(
            [f for f in df.schema.fields if f.name in out_cols]
            + [T.StructField(SNAPSHOT_COL, T.IntegerType())]
        )
        # state blob is a PICKLED DataFrame (BinaryType), not JSON: to_json
        # round-trips lose float precision beyond 10 significant digits and
        # sub-ms timestamp resolution, which would let restored rows diverge
        # from the batch-mode result (breaking the PARITY.md §15 "final
        # snapshot equals batch result" contract); pickle preserves values
        # and dtypes exactly.
        state_schema = T.StructType(
            [T.StructField("rows", T.BinaryType()), T.StructField("snap", T.IntegerType())]
        )
        spec = _retention_spec(si.window, schema, out_cols, ord_cols)
        by = spec["sort_by"] or ord_cols
        ascending = spec["sort_asc"] or [True] * len(by)

        def _restore(blob, like: pd.DataFrame) -> pd.DataFrame:
            import pickle as _pickle

            # lossless: dtypes (incl. nullable ints and tz-aware datetimes)
            # and values come back exactly as stored — no coercion needed.
            stored = _pickle.loads(bytes(blob))
            return stored[like.columns]

        def proc(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
            import pickle as _pickle

            new = pd.concat([p[out_cols] for p in pdfs], ignore_index=True)
            snap = 0
            if state.exists:
                blob, snap = state.get
                rows = pd.concat([_restore(blob, new), new], ignore_index=True)
            else:
                rows = new
            rows = rows.sort_values(ord_cols, kind="mergesort").reset_index(drop=True)
            rows, retained = _retain(rows, spec)
            retained = retained.sort_values(by, ascending=ascending, kind="mergesort")
            snap += 1
            state.update((_pickle.dumps(rows.reset_index(drop=True)), snap))
            out = retained.reset_index(drop=True).copy()
            out[SNAPSHOT_COL] = snap
            out[SNAPSHOT_COL] = out[SNAPSHOT_COL].astype("int32")
            yield out

        if pkey:
            keys = [pkey]
        else:
            W.warn_global_order(f"streaming #window.{si.window.name} (global retained set)")
            df = df.withColumn("__gk", F.lit(1))
            keys = ["__gk"]
        return df.groupBy(*keys).applyInPandasWithState(
            proc, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )

    def _streaming_retained_agg(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, schema,
        pkey: Optional[str],
    ) -> DataFrame:
        """Aggregation over a retention window's contents, REVISED per
        micro-batch (round 5): keyed state holds the retained set (the same
        retention rules as the row snapshots — sort top-n, frequent /
        lossyFrequent combos, unique / firstUnique representatives, batch /
        delay retain-everything) and every batch emits the full
        re-aggregated, group-by'd result tagged with ``__snapshot``. Rows
        carrying the max id are the current revision; after the last batch
        they equal the batch-mode aggregate (parity-tested across >= 2
        micro-batches). An EMPTY grouped revision emits one marker row
        whose every non-snapshot field is NULL (consumers select the max
        snapshot, then drop the marker) — without it, a revision that
        shrinks to zero groups would leave max-snapshot readers pointing
        at the stale previous revision. This is Spark's update-mode emission expressed in
        an append-mode changelog, so it composes with the repo's
        append-only sinks.

        State: sort / unique / firstUnique are bounded (top-n / one row per
        key combo); frequent / lossyFrequent / batch / delay retain every
        event of the state key by CONTRACT (the reference's own retention
        growth) — at scale shard with ``partition with`` (state key = the
        partition key, matching the batch planner's implicit pkey
        grouping) or use batch mode. Select items: group-key refs,
        ``count()``, or ``agg(column)``; complex expressions and
        having/order-by stay batch-only (clear rejection)."""
        wname = si.window.name.lower()
        if q.order_by or q.limit is not None:
            raise UnsupportedFeatureException("order by / limit need batch mode")
        key_names: list[str] = []
        for ge in q.group_by:
            if not isinstance(ge, A.Ref) or ge.name not in df.columns:
                raise UnsupportedFeatureException(
                    "streaming retained-set aggregation needs plain column "
                    "group keys (computed keys: batch mode)"
                )
            key_names.append(ge.name)
        if pkey and pkey not in key_names:
            # the batch planner folds `partition with` keys into the
            # grouping (plans/planner.py) — mirror it so pkey refs resolve
            key_names.append(pkey)
        field_types = {f.name: f.dataType for f in df.schema.fields}
        plan, carry, out_fields = self._plan_stateful_items(
            q, key_names, field_types, allow_cur=False,
            what=f"#window.{wname} retained-set aggregation",
        )
        out_fields = out_fields + [T.StructField(SNAPSHOT_COL, T.IntegerType())]
        out_schema = T.StructType(out_fields)
        out_names = [f.name for f in out_fields]
        out_cols = [c for c in df.columns if c != "__event_time"]
        ord_cols = ([TS_COL] if schema.ts_field is not None else []) + [
            f for f in schema.fields if f != schema.ts_field
        ]
        ord_cols = [c for c in ord_cols if c in out_cols]
        state_schema = T.StructType(
            [T.StructField("rows", T.BinaryType()), T.StructField("snap", T.IntegerType())]
        )
        # retention parameters: ONE shared parse + compute with the row
        # snapshots (_retention_spec/_retain) so the two operators cannot
        # drift apart.
        spec = _retention_spec(si.window, schema, out_cols, ord_cols)
        # plain-function alias: the proc closure must not capture self (the
        # planner holds the catalog's DataFrames — unpicklable on executors)
        agg_over = StreamingPlanner._agg_over

        def proc(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
            import math as _math
            import pickle as _pickle

            new = pd.concat([p[out_cols] for p in pdfs], ignore_index=True)
            snap = 0
            if state.exists:
                blob, snap = state.get
                stored = _pickle.loads(bytes(blob))[new.columns]
                rows = pd.concat([stored, new], ignore_index=True)
            else:
                rows = new
            rows = rows.sort_values(ord_cols, kind="mergesort").reset_index(drop=True)
            rows, retained = _retain(rows, spec)
            retained = retained.sort_values(ord_cols, kind="mergesort").reset_index(drop=True)
            snap += 1
            state.update((_pickle.dumps(rows.reset_index(drop=True)), snap))

            def clean(series):
                return [
                    v for v in (x.item() if hasattr(x, "item") else x for x in series)
                    if v is not None and not (isinstance(v, float) and _math.isnan(v))
                ]

            if key_names:
                groups = list(retained.groupby(key_names, sort=False, dropna=False))
            else:
                groups = [((), retained)]
            recs = []
            for gkey, g in groups:
                if not isinstance(gkey, tuple):
                    gkey = (gkey,)
                rec = []
                for out_name, kind, col in plan:
                    if kind == "key":
                        rec.append(gkey[key_names.index(col)])
                    elif kind == "count":
                        rec.append(len(g))
                    else:
                        rec.append(agg_over(kind, clean(g[col])))
                rec.append(snap)
                recs.append(rec)
            if not recs:
                # an empty GROUPED revision (the retained set aggregates to
                # zero groups — e.g. lossyFrequent where no combo clears
                # the support) must still advance the visible snapshot, or
                # max-__snapshot readers would mistake the previous
                # non-empty revision for current. Emit ONE marker row with
                # every non-snapshot field NULL; consumers drop it after
                # selecting the max snapshot (a real group row always has
                # its aggregates present — only the pathological
                # no-count, null-key, all-null-agg group is ambiguous).
                recs.append([None] * (len(out_names) - 1) + [snap])
            yield pd.DataFrame(recs, columns=out_names)

        if pkey:
            keys = [pkey]
        else:
            W.warn_global_order(
                f"streaming #window.{wname} aggregation (global retained set)"
            )
            df = df.withColumn("__gk", F.lit(1))
            keys = ["__gk"]
        return df.groupBy(*keys).applyInPandasWithState(
            proc, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )

    def _streaming_agg(self, df: DataFrame, q: A.Query, si: A.SingleInput, resolver) -> DataFrame:
        if q.order_by or q.limit is not None:
            raise UnsupportedFeatureException("order by / limit need batch mode")
        wclass = W.classify(si.window, self.extensions)
        comp = self._compiler(resolver, df)
        group_cols: list[Column] = []
        key_names: list[str] = []
        for i, ge in enumerate(q.group_by):
            gname = ge.name if isinstance(ge, A.Ref) else f"__g{i}"
            if gname not in df.columns:
                df = df.withColumn(gname, comp.compile(ge))
            group_cols.append(F.col(gname))
            key_names.append(gname)
        win_start = win_end = None
        if wclass == "batch" and isinstance(
            self.extensions.get(si.window.name), W.WindowExtension
        ):
            # window-processor extension: the builder maps the event-time
            # column (epoch ms) to a bucket id — the SAME bucketed protocol
            # the batch planner executes (operators/windows.py add_bucket),
            # so the streaming lift is just grouping by that bucket column.
            # A pure-Catalyst bucket expression is streaming-safe by
            # construction; windowStart()/windowEnd() are null, matching
            # the batch extension contract.
            ext = self.extensions[si.window.name]
            ts_field = self.stream_schema(si.stream).ts_field
            if ts_field is None:
                raise SiddhiPlannerException(
                    f"#window.{si.window.name}: stream has no ts_field for "
                    "the window extension bucket"
                )
            bucket = ext.builder(
                F.col(ts_field), *[W._ext_arg(a) for a in si.window.args]
            )
            group_cols = [bucket.alias(W.BUCKET_COL)] + group_cols
            win_start = F.lit(None).cast("bigint")
            win_end = F.lit(None).cast("bigint")
        elif wclass == "batch" and si.window.name.lower() in ("cron", "externaltimebatch"):
            # cron and externalTimeBatch in streaming mode. FIXED-PERIOD
            # schedules (and externalTimeBatch over the stream's own
            # ts_field) lower to a NATIVE window() over the watermarked
            # event-time column — same bucket boundaries as the batch
            # lowering, but the state store can EVICT closed windows once
            # the watermark passes them (round-5 ADVICE: the bucket-column
            # grouping keeps one state row per elapsed period per key
            # forever). Calendar/quartz cron forms and externalTimeBatch
            # over a non-ts attribute keep the bucket-expression grouping —
            # their bucket is not a fixed-width time window, so state there
            # is unbounded-by-schedule (documented: run them update/complete
            # with a TTL'd state store, or batch mode).
            ts_field = self.stream_schema(si.stream).ts_field
            if ts_field is None:
                raise SiddhiPlannerException(
                    f"#window.{si.window.name}: stream has no ts_field"
                )
            native = None
            wname_l = si.window.name.lower()
            if wname_l == "cron":
                kind, arg, anchor = W._cron_schedule(si.window)
                if kind == "period":
                    native = (int(arg), int(anchor) % int(arg))
            else:  # externaltimebatch
                fld = si.window.args[0]
                if isinstance(fld, A.Ref) and fld.name == ts_field:
                    native = (int(W._arg_ms(si.window, 1)), 0)
            if native is not None:
                period, start = native
                wcol = F.window(
                    F.col("__event_time"),
                    f"{period} milliseconds", f"{period} milliseconds",
                    f"{start} milliseconds",
                )
                group_cols = [wcol.alias("__nw")] + group_cols
                win_start = F.unix_millis(F.col("__nw.start"))
                win_end = F.unix_millis(F.col("__nw.end"))
            else:
                bw = W.add_bucket(df, si.window, ts_field, [], [])
                df = bw.df
                group_cols = [F.col(W.BUCKET_COL)] + group_cols
                win_start, win_end = bw.win_start, bw.win_end
        elif wclass == "batch":
            name = si.window.name.lower()
            if name == "lengthbatch":
                return self._streaming_length_batch(df, q, si, key_names)
            if name == "timebatch":
                size_ms = int(si.window.args[0].value)
                wcol = F.window(F.col("__event_time"), f"{size_ms} milliseconds")
            elif name == "session":
                gap_ms = int(si.window.args[0].value)
                wcol = F.session_window(F.col("__event_time"), f"{gap_ms} milliseconds")
            else:
                raise UnsupportedFeatureException(
                    f"#window.{si.window.name} has no streaming shape (use batch mode)"
                )
            group_cols = [wcol.alias("__w")] + group_cols
            win_start = F.unix_millis(F.col("__w.start"))
            win_end = F.unix_millis(F.col("__w.end"))
        elif wclass == "sliding":
            wname = si.window.name.lower()
            if wname == "length":
                return self._streaming_sliding_length(df, q, si, key_names)
            if wname == "time":
                return self._streaming_sliding_time(
                    df, q, si, key_names, int(si.window.args[0].value)
                )
            if wname == "externaltime":
                field = si.window.args[0]
                ts_field = self.stream_schema(si.stream).ts_field
                if isinstance(field, A.Ref) and field.name == ts_field:
                    return self._streaming_sliding_time(
                        df, q, si, key_names, int(si.window.args[1].value)
                    )
                raise UnsupportedFeatureException(
                    "streaming #window.externalTime needs its timestamp attribute "
                    "to be the stream's ts_field (general case: batch mode)"
                )
            if wname == "timelength":
                ts_field = self.stream_schema(si.stream).ts_field
                if ts_field is None:
                    raise SiddhiPlannerException(
                        "#window.timeLength: stream has no ts_field"
                    )
                return self._streaming_sliding_length(
                    df, q, si, key_names,
                    t_ms=int(si.window.args[0].value), n_arg=1,
                    ts_field=ts_field,
                )
            raise UnsupportedFeatureException(
                f"sliding #window.{si.window.name} aggregation is batch-only; "
                "streaming emits per-window-flush (timeBatch/session)"
            )
        # collect aggregates
        from ..plans.functions import AGG_FNS

        agg_map: dict[int, str] = {}
        agg_exprs: list[Column] = []
        inner_comp = self._compiler(resolver, df)

        def collect(e: A.Expr):
            if isinstance(e, A.Call) and e.ns is None and e.name.lower() in AGG_FNS:
                if id(e) not in agg_map:
                    nm = f"__a{len(agg_map)}"
                    agg_map[id(e)] = nm
                    agg_exprs.append(self._agg_column(e, inner_comp, df, None).alias(nm))
                return
            from ..plans.planner import _children

            for child in _children(e):
                collect(child)

        items = q.select or []
        if q.select is None:
            raise SiddhiPlannerException("select * not allowed in aggregate queries")
        for it in items:
            collect(it.expr)
        if q.having is not None:
            collect(q.having)
        agg_df = df.groupBy(*group_cols).agg(*agg_exprs) if group_cols else df.agg(*agg_exprs)

        def post_resolve(ref: A.Ref) -> Column:
            if ref.name in key_names or ref.name in agg_df.columns:
                return F.col(ref.name)
            raise SiddhiPlannerException(
                f"column '{ref.name}' must be a group-by key or inside an aggregate"
            )

        fns = {}
        if win_start is not None:
            fns["windowStart"] = lambda *a: win_start
            fns["windowEnd"] = lambda *a: win_end
        post = ExprCompiler(
            post_resolve, {**self.extensions, **fns},
            agg_handler=lambda call, inner: F.col(agg_map[id(call)]),
        )
        out_cols = [post.compile(it.expr).alias(self._out_name(it)) for it in items]
        out = agg_df.select(*out_cols)
        if q.having is not None:
            hc = ExprCompiler(lambda r: F.col(r.name), self.extensions)
            out = out.filter(hc.compile(q.having))
        return out

    # --------------------------------------------- streaming count window
    def _plan_stateful_items(
        self, q: A.Query, key_names: list[str], field_types: dict, allow_cur: bool,
        what: str,
    ) -> tuple[list[tuple[str, str, Optional[str]]], list[str], list[T.StructField]]:
        """Shared select-item planning for the stateful window operators.

        Returns ``(plan, carry, out_fields)`` where ``plan`` is
        (out_name, kind, col) per item — kind in {'key','cur','count',agg} —
        ``carry`` the value columns each buffered row must keep, and
        ``out_fields`` the output StructFields. Complex expressions stay
        batch-only (clear rejection)."""
        items = q.select or []
        if not items:
            raise SiddhiPlannerException("select * not allowed in aggregate queries")
        if q.having is not None or q.order_by:
            raise UnsupportedFeatureException(
                f"having/order by over streaming {what}: batch mode only"
            )
        plan: list[tuple[str, str, Optional[str]]] = []
        carry: list[str] = []
        out_fields: list[T.StructField] = []

        def need(col: str) -> None:
            if col not in carry:
                carry.append(col)

        for it in items:
            out_name = self._out_name(it)
            e = it.expr
            if isinstance(e, A.Ref):
                if e.name in key_names:
                    plan.append((out_name, "key", e.name))
                    out_fields.append(T.StructField(out_name, field_types[e.name], True))
                    continue
                if allow_cur:
                    need(e.name)
                    plan.append((out_name, "cur", e.name))
                    out_fields.append(T.StructField(out_name, field_types[e.name], True))
                    continue
            if isinstance(e, A.Call) and e.ns is None:
                fn = e.name.lower()
                if fn == "count" and not e.args:
                    plan.append((out_name, "count", None))
                    out_fields.append(T.StructField(out_name, T.LongType(), True))
                    continue
                if fn in ("sum", "min", "max", "avg", "first", "last",
                          "distinctcount") and len(e.args) == 1 and isinstance(e.args[0], A.Ref):
                    col = e.args[0].name
                    need(col)
                    if fn in ("min", "max", "first", "last"):
                        ot = field_types[col]
                    elif fn == "distinctcount":
                        ot = T.LongType()
                    elif fn == "sum":
                        ot = field_types[col] if isinstance(
                            field_types[col], (T.LongType, T.IntegerType)
                        ) else T.DoubleType()
                        if isinstance(ot, T.IntegerType):
                            ot = T.LongType()
                    else:  # avg
                        ot = T.DoubleType()
                    plan.append((out_name, fn, col))
                    out_fields.append(T.StructField(out_name, ot, True))
                    continue
            kinds = "keys, current-row columns" if allow_cur else "keys"
            raise UnsupportedFeatureException(
                f"streaming {what} select items must be {kinds}, count(), or agg(column)"
            )
        return plan, carry, out_fields

    @staticmethod
    def _agg_over(kind: str, xs: list):
        """One aggregate value over a window's non-null column values."""
        if kind == "sum":
            return sum(xs) if xs else None
        if kind == "avg":
            return float(sum(xs)) / len(xs) if xs else None
        if kind == "min":
            return min(xs) if xs else None
        if kind == "max":
            return max(xs) if xs else None
        if kind == "first":
            return xs[0] if xs else None
        if kind == "last":
            return xs[-1] if xs else None
        if kind == "distinctcount":
            return len(set(xs))
        raise AssertionError(kind)

    def _streaming_length_batch(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, key_names: list[str]
    ) -> DataFrame:
        """``#window.lengthBatch(n)`` on a streaming source: the custom
        stateful count window (SURVEY.md §7.2) — per key, buffer arriving
        rows in the state store and emit one aggregate row per full chunk of
        n; the remainder carries across micro-batches. Rows are event-time
        sorted within each batch (same reorder contract as the pattern op).

        Select items must be group-key refs, ``count()``, or
        ``agg(column)`` — complex expressions stay batch-only."""
        n = int(si.window.args[0].value)
        field_types = {f.name: f.dataType for f in df.schema.fields}
        plan, value_cols, out_fields = self._plan_stateful_items(
            q, key_names, field_types, allow_cur=False, what="lengthBatch"
        )
        out_schema = T.StructType(out_fields)
        state_schema = T.StructType([T.StructField("buffer", T.ArrayType(T.StringType()))])
        key_struct = [T.StructField(k, field_types[k]) for k in key_names]

        ts_in_df = TS_COL in df.columns
        sort_cols = ([TS_COL] if ts_in_df else []) + value_cols
        carry_cols = sort_cols  # what each buffered row needs
        plan_c, key_names_c, n_c = plan, key_names, n

        def proc(key, pdfs, state: GroupState):
            import json as _json
            import math

            buffer = list(state.get[0]) if state.exists else []
            rows = []
            for pdf in pdfs:
                if not len(pdf):
                    continue
                if not carry_cols:  # pure count(): row presence is the datum
                    rows.extend("[]" for _ in range(len(pdf)))
                    continue
                part = pdf[carry_cols].sort_values(by=sort_cols)
                rows.extend(
                    _json.dumps([None if (isinstance(v, float) and math.isnan(v)) else v
                                 for v in r])
                    for r in part.itertuples(index=False, name=None)
                )
            buffer.extend(rows)
            out = []
            while len(buffer) >= n_c:
                chunk = [_json.loads(s) for s in buffer[:n_c]]
                buffer = buffer[n_c:]
                vals = {c: [row[carry_cols.index(c)] for row in chunk] for c in value_cols}
                rec = []
                for out_name, kind, col in plan_c:
                    if kind == "key":
                        rec.append(key[key_names_c.index(col)])
                    elif kind == "count":
                        rec.append(n_c)
                    elif kind == "sum":
                        rec.append(sum(v for v in vals[col] if v is not None))
                    elif kind == "avg":
                        xs = [v for v in vals[col] if v is not None]
                        rec.append(float(sum(xs)) / len(xs) if xs else None)
                    elif kind == "min":
                        xs = [v for v in vals[col] if v is not None]
                        rec.append(min(xs) if xs else None)
                    elif kind == "max":
                        xs = [v for v in vals[col] if v is not None]
                        rec.append(max(xs) if xs else None)
                    elif kind == "first":
                        rec.append(vals[col][0])
                    elif kind == "last":
                        rec.append(vals[col][-1])
                    elif kind == "distinctcount":
                        rec.append(len({v for v in vals[col] if v is not None}))
                out.append(rec)
            state.update((buffer,))
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in out_fields])

        if key_names and self.window_key_buckets:
            from .bucketing import bucketed_stateful

            return bucketed_stateful(
                df, key_names, self.window_key_buckets, proc, out_schema,
                GroupStateTimeout.NoTimeout,
            )
        if key_names:
            grouped = df.groupBy(*[F.col(k) for k in key_names])
        else:
            df = df.withColumn("__gk", F.lit(0))
            grouped = df.groupBy("__gk")
        return grouped.applyInPandasWithState(
            proc, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )

    def _streaming_sliding_length(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, key_names: list[str],
        t_ms=None, n_arg: int = 0, ts_field=None,
    ) -> DataFrame:
        """``#window.length(n)`` on a streaming source: per-arrival aggregate
        over the trailing n events per key (the reference's exercised P0
        count window, SiddhiCEPITCase.java:315,427). A per-key ring buffer
        lives in the state store; every arriving row emits one output row —
        the same per-arrival emission the embedded engine produces.

        With ``t_ms``/``ts_field`` set this runs ``#window.timeLength(t, n)``
        (round 4): the same ring additionally evicts entries older than
        ``t_ms`` relative to the ARRIVING event's ``ts_field`` value before
        aggregating — the batch contract's hybrid window (last t ms capped
        at the n most recent), so state stays bounded by min(n, rate*t).

        Select items: group-key refs, current-row column refs, ``count()``,
        or ``agg(column)``; complex expressions stay batch-only."""
        n = int(si.window.args[n_arg].value)
        field_types = {f.name: f.dataType for f in df.schema.fields}
        plan, carry, out_fields = self._plan_stateful_items(
            q, key_names, field_types, allow_cur=True, what="length window"
        )
        if t_ms is not None and ts_field not in carry:
            carry.append(ts_field)
        out_schema = T.StructType(out_fields)
        state_schema = T.StructType([T.StructField("ring", T.ArrayType(T.StringType()))])
        ts_in_df = TS_COL in df.columns
        sort_cols = ([TS_COL] if ts_in_df else []) + carry
        carry_cols = sort_cols
        plan_c, key_names_c, n_c = plan, key_names, n
        out_names = [f.name for f in out_fields]
        agg_over = StreamingPlanner._agg_over

        ts_idx = carry_cols.index(ts_field) if t_ms is not None else None
        t_ms_c = t_ms

        def proc(key, pdfs, state: GroupState):
            import json as _json
            import math

            import numpy as _np

            ring = list(state.get[0]) if state.exists else []
            out = []
            for pdf in pdfs:
                if not len(pdf):
                    continue
                part = pdf[carry_cols].sort_values(by=sort_cols)
                for r in part.itertuples(index=False, name=None):
                    row = [
                        None if (isinstance(v, float) and math.isnan(v))
                        else (v.item() if isinstance(v, _np.generic) else v)
                        for v in r
                    ]  # numpy scalars (int64!) are not JSON-serializable
                    ring.append(_json.dumps(row))
                    if len(ring) > n_c:
                        ring.pop(0)
                    if t_ms_c is not None:
                        # hybrid window: drop entries older than t relative
                        # to the arriving event (ring is in ts order)
                        cur_ts = int(row[ts_idx])
                        while ring:
                            head = _json.loads(ring[0])
                            if head[ts_idx] is None or int(head[ts_idx]) <= cur_ts - t_ms_c:
                                ring.pop(0)
                            else:
                                break
                    win = [_json.loads(s) for s in ring]
                    rec = []
                    for out_name, kind, col in plan_c:
                        if kind == "key":
                            rec.append(key[key_names_c.index(col)])
                        elif kind == "cur":
                            rec.append(row[carry_cols.index(col)])
                        elif kind == "count":
                            rec.append(len(win))
                        else:
                            xs = [w[carry_cols.index(col)] for w in win]
                            rec.append(agg_over(kind, [v for v in xs if v is not None]))
                    out.append(rec)
            state.update((ring,))
            if out:
                yield pd.DataFrame(out, columns=out_names)

        if key_names and self.window_key_buckets:
            from .bucketing import bucketed_stateful

            return bucketed_stateful(
                df, key_names, self.window_key_buckets, proc, out_schema,
                GroupStateTimeout.NoTimeout,
            )
        if key_names:
            grouped = df.groupBy(*[F.col(k) for k in key_names])
        else:
            df = df.withColumn("__gk", F.lit(0))
            grouped = df.groupBy("__gk")
        return grouped.applyInPandasWithState(
            proc, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )

    def _streaming_sliding_time(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, key_names: list[str],
        t_ms: int,
    ) -> DataFrame:
        """``#window.time(t)`` aggregation on a streaming source: per-arrival
        aggregate over the trailing t-ms window per key — Siddhi's most-used
        window (events expire t after arrival). Matches the batch contract
        ``rangeBetween(-t, 0)``: the window of a row at ts holds buffered
        rows with ts' in [ts - t, ts].

        State per key is the rows of the last t ms (plus a monotone max-ts
        high watermark for eviction) — bounded by the arrival rate × t, the
        same bound the reference's in-memory time window carries. Late rows
        (within the stream watermark) are inserted in event-time order and
        aggregate over their OWN trailing window, exactly as batch mode
        would. ``#window.externalTime(f, t)`` routes here too when ``f`` is
        the stream's event-time field (identical window; the general case is
        batch-only)."""
        field_types = {f.name: f.dataType for f in df.schema.fields}
        plan, carry, out_fields = self._plan_stateful_items(
            q, key_names, field_types, allow_cur=True, what="time window"
        )
        out_schema = T.StructType(out_fields)
        state_schema = T.StructType([
            T.StructField("buffer", T.ArrayType(T.StringType())),
            T.StructField("max_ts", T.LongType()),
        ])
        if TS_COL not in df.columns:
            raise SiddhiPlannerException("#window.time needs the stream's ts_field")
        sort_cols = [TS_COL] + carry
        carry_cols = sort_cols  # ts is element 0 of every buffered row
        plan_c, key_names_c, t_c = plan, key_names, int(t_ms)
        out_names = [f.name for f in out_fields]
        agg_over = StreamingPlanner._agg_over

        def proc(key, pdfs, state: GroupState):
            import json as _json
            import math

            if state.exists:
                stored, max_ts = state.get
                buf = [_json.loads(s) for s in stored]
            else:
                buf, max_ts = [], None
            out = []
            for pdf in pdfs:
                if not len(pdf):
                    continue
                part = pdf[carry_cols].sort_values(by=sort_cols)
                for r in part.itertuples(index=False, name=None):
                    row = [None if (isinstance(v, float) and math.isnan(v)) else v
                           for v in r]
                    ts = int(row[0])
                    max_ts = ts if max_ts is None else max(max_ts, ts)
                    # insert in event-time order (late rows land mid-buffer)
                    k = len(buf)
                    while k > 0 and buf[k - 1][0] > ts:
                        k -= 1
                    buf.insert(k, row)
                    # evict rows that can never appear in a future window
                    lo = max_ts - t_c
                    while buf and buf[0][0] < lo:
                        buf.pop(0)
                    win = [w for w in buf if ts - t_c <= w[0] <= ts]
                    rec = []
                    for out_name, kind, col in plan_c:
                        if kind == "key":
                            rec.append(key[key_names_c.index(col)])
                        elif kind == "cur":
                            rec.append(row[carry_cols.index(col)])
                        elif kind == "count":
                            rec.append(len(win))
                        else:
                            xs = [w[carry_cols.index(col)] for w in win]
                            rec.append(agg_over(kind, [v for v in xs if v is not None]))
                    out.append(rec)
            state.update(([_json.dumps(r) for r in buf], max_ts if max_ts is not None else 0))
            if out:
                yield pd.DataFrame(out, columns=out_names)

        if key_names and self.window_key_buckets:
            from .bucketing import bucketed_stateful

            return bucketed_stateful(
                df, key_names, self.window_key_buckets, proc, out_schema,
                GroupStateTimeout.NoTimeout,
            )
        if key_names:
            grouped = df.groupBy(*[F.col(k) for k in key_names])
        else:
            df = df.withColumn("__gk", F.lit(0))
            grouped = df.groupBy("__gk")
        return grouped.applyInPandasWithState(
            proc, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )

    # ------------------------------------------------- streaming aggregation
    def _compile_agg_read(self, q: A.Query) -> DataFrame:
        """`from Agg within ... per 'unit'` on a STREAMING source: the
        granularity lowers to an aligned tumbling window aggregation
        (window() buckets align to the epoch in the pinned-UTC session,
        matching the batch date_trunc contract). Month/year granularities
        are calendar-sized and stay batch-only."""
        from ..plans.planner import AGG_TS, _GRAN_ALIASES, _within_bound_ms

        si: A.SingleInput = q.input
        adef = self.aggregations[si.stream]
        src = self.stream_schema(adef.input.stream)
        if not src.df.isStreaming:
            return super()._compile_agg_read(q)
        gran = _GRAN_ALIASES.get((q.agg_per or "").lower())
        if gran is None or gran not in adef.granularities:
            raise SiddhiPlannerException(
                f"aggregation '{adef.name}': per granularity {q.agg_per!r} "
                f"unknown or not maintained (has: {adef.granularities})"
            )
        ms = {"sec": 1000, "min": 60_000, "hour": 3_600_000, "day": 86_400_000}.get(gran)
        if ms is None:
            # month/year are calendar-sized: synthesize a cron window whose
            # fires are exactly the date_trunc boundaries batch mode uses
            # (monthly on the 1st at midnight / annually on Jan 1) — the
            # round-4 streaming cron path groups by the bucket expression,
            # and windowStart() IS the truncated epoch ms
            cron = "0 0 0 1 * ?" if gran == "month" else "0 0 0 1 1 ?"
            wspec = A.WindowSpec("cron", [A.Literal(cron, "string")])
        else:
            wspec = A.WindowSpec("timeBatch", [A.Literal(ms, "time")])
        if adef.ts_ref is not None and adef.ts_ref.name != src.ts_field:
            raise UnsupportedFeatureException(
                "streaming aggregation requires `aggregate by` = the stream's event-time field"
            )
        if self._query_has_agg(q):
            raise UnsupportedFeatureException(
                "re-aggregating a streaming rollup needs a second stateful agg — read "
                "the rollup in batch mode or aggregate downstream via foreachBatch"
            )
        synth = A.Query(
            input=A.SingleInput(
                adef.input.stream, adef.input.filter, wspec, adef.input.alias,
            ),
            select=[A.SelectItem(A.Call(None, "windowStart", []), AGG_TS)]
            + list(adef.select),
            group_by=list(adef.group_by),
        )
        df = self._compile_single(synth)
        if q.agg_within is not None:
            lo, hi = q.agg_within
            df = df.filter(F.col(AGG_TS) >= _within_bound_ms(lo))
            if hi is not None:
                df = df.filter(F.col(AGG_TS) < _within_bound_ms(hi))
        resolver = self._plain_resolver(set(df.columns), {adef.name, si.alias or adef.name})
        if si.filter is not None:
            df = df.filter(self._compiler(resolver, df).compile(si.filter))
        return self._select_rowwise(df, q, resolver, list(df.columns))

    # ------------------------------------------------------- streaming pattern
    def compile_plan(self, plan_text: str) -> dict[str, DataFrame]:
        """Compile a multi-query execution plan over streaming sources.

        Mirrors the batch ExecutionSiddhiStream chaining contract (cep.py):
        each ``insert into`` output is registered into the catalog so later
        queries can consume it, and multi-query fan-in into the same output
        unions by name. Everything composes into one streaming DAG per
        terminal output — attach one sink per returned entry. Table DML needs
        streaming/tables.py (foreachBatch) and is rejected here.
        """
        from ..schema import StreamSchema
        from ..siddhiql.parser import parse

        plan = parse(plan_text)
        outputs: dict[str, DataFrame] = {}
        for q in plan.queries:
            if q.dml is not None or (
                q.insert_into is not None
                and q.insert_into in self.catalog
                and self.catalog[q.insert_into].is_table
            ):
                raise UnsupportedFeatureException(
                    "table DML in a streaming plan: use streaming/tables.py "
                    "(foreachBatch continuous DML)"
                )
            df = self.compile_query(q)
            if q.insert_into:
                if q.insert_into in outputs:
                    df = outputs[q.insert_into].unionByName(df)
                outputs[q.insert_into] = df
                self.catalog[q.insert_into] = StreamSchema(
                    q.insert_into, df, list(df.columns)
                )
        return outputs

    def compile_query(self, q: A.Query) -> DataFrame:
        if isinstance(q.input, A.PatternInput):
            streams = {
                e.stream
                for s in q.input.elems
                for e in (s.elems if isinstance(s, A.PatternGroup) else [s])
            }
            if any(self.stream_schema(s).df.isStreaming for s in streams):
                return self._streaming_pattern(q)
        return super().compile_query(q)

    def _streaming_pattern(self, q: A.Query) -> DataFrame:
        """Per-key NFA over state-buffered rows (applyInPandasWithState)."""
        from ..operators.pattern import (
            normalize_steps,
            quiescent_confirm,
            validate_every_at,
        )

        p: A.PatternInput = q.input
        validate_every_at(p)
        raw_steps = p.elems
        # flatten and/or groups exactly as batch compile_pattern does (round
        # 9 — the andor3 parity fuzz arm found streaming groups crashed at
        # plan time): captures, masks, and output columns are per FLAT
        # element; the NFA consumes the raw step list for group semantics
        steps_norm, elems = normalize_steps(raw_steps)
        has_group = len(elems) != len(raw_steps)
        used = set()
        for i, e in enumerate(elems):
            if e.alias is None:
                e.alias = e.stream if e.stream not in used else f"e{i}"
            used.add(e.alias)
        strict_after = [c == "," for c in p.connectors]
        if len({e.stream for e in elems}) != 1:
            raise UnsupportedFeatureException(
                "streaming patterns over multiple streams: union the streams first"
            )
        stream = elems[0].stream
        schema = self.stream_schema(stream)
        if schema.ts_field is None:
            raise SiddhiPlannerException(f"pattern stream '{stream}' needs a ts_field")
        df, _ = self.stream_df(stream)
        df = self._with_watermark(df, schema)
        pk = q.partition_by or {}
        if pk:
            df = df.withColumn(PK_COL, F.col(pk[stream]))
        else:
            df = df.withColumn(PK_COL, F.lit(0))
        df = df.withColumn(STREAM_COL, F.lit(stream))

        fields = list(schema.fields)
        field_types = {f.name: f.dataType for f in schema.df.schema.fields}
        out_fields = []
        col_of = {}
        for e in elems:
            if e.negated:
                continue
            for fname in fields:
                out_name = f"{e.alias}__{fname}"
                col_of[(e.alias, fname)] = out_name
                out_fields.append(
                    T.StructField(
                        out_name,
                        T.ArrayType(field_types[fname]) if e.is_collection else field_types[fname],
                        True,
                    )
                )
        out_schema = T.StructType(out_fields)
        out_names = [f.name for f in out_fields]
        # buffer state = ONE json blob of row arrays, stored SORTED. ``seen``
        # holds content-hashes of already-emitted matches: a running count
        # would re-emit old matches (and drop new ones) whenever an
        # out-of-order arrival inserts a match at an earlier NFA position,
        # and would replay every still-derivable match after buffer eviction.
        state_schema = T.StructType(
            [
                T.StructField("seen", T.ArrayType(T.StringType())),
                T.StructField("buffer", T.StringType()),
                T.StructField("nfa", T.StringType()),
            ]
        )
        elems_c = elems
        raw_steps_c = raw_steps
        every, within_ms = p.every, p.within_ms
        every_at = p.every_at
        filters = [(e.stream, e.filter) for e in elems]
        field_names = {e.alias: fields for e in elems if not e.negated}
        collection = {e.alias: e.is_collection for e in elems if not e.negated}
        max_buffer = self.max_buffer_per_key

        # --- row packing (round 7): ship each event to the stateful operator
        # as ONE json-array column. PySpark's applyInPandasWithState converts
        # every input column to a pandas Series PER KEY GROUP — at 100k
        # small keys that per-visit Arrow->pandas cost dominated the
        # streaming probe (~60% of wall, worker cProfile). One packed column
        # + the key + the watermark column cut the drain 42s -> 22s at 1M
        # events/100k keys. Timestamps ride as unix micros, dates as epoch
        # days; json numbers/strings/bools round-trip natively.
        _NUM_T = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType,
        )
        pos = {TS_COL: 0}
        pack_exprs = [F.col(TS_COL).cast("long").alias("__c0")]
        dt_us_fields: set = set()
        date_fields: set = set()
        for i, f in enumerate(fields):
            t = field_types[f]
            c = F.col(f)
            if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
                c = F.unix_micros(c.cast("timestamp"))
                dt_us_fields.add(f)
            elif isinstance(t, T.DateType):
                c = F.datediff(c, F.lit("1970-01-01"))
                date_fields.add(f)
            elif not isinstance(t, _NUM_T + (T.StringType, T.BooleanType)):
                raise UnsupportedFeatureException(
                    f"streaming pattern over field '{f}' of type "
                    f"{t.simpleString()}: supported field types are "
                    "numeric/string/boolean/timestamp/date"
                )
            pos[f] = i + 1
            pack_exprs.append(c.alias(f"__c{i + 1}"))
        pack_keys = [f"__c{i}" for i in range(len(pack_exprs))]
        sel = [F.col(PK_COL)]
        if "__event_time" in df.columns:
            sel.append(F.col("__event_time"))
        sel.append(
            F.to_json(
                F.struct(*pack_exprs), {"ignoreNullFields": "false"}
            ).alias("__row")
        )
        df = df.select(*sel)
        # total order: ts, then the remaining fields (nulls last, matching
        # the batch operator's pandas na_position="last")
        sort_pd = [(0, 0)] + [
            (pos[f], "" if isinstance(field_types[f], T.StringType) else 0)
            for f in fields
            if f != schema.ts_field
        ]

        def sort_key(r):
            return tuple(
                (r[p] is None, r[p] if r[p] is not None else d)
                for p, d in sort_pd
            )

        # columns the element filters actually read (masks build arrays for
        # just these)
        def _ref_names(x, out):
            if isinstance(x, A.Ref):
                out.add(x.name)
            elif isinstance(x, A.Binary):
                _ref_names(x.left, out)
                _ref_names(x.right, out)
            elif isinstance(x, A.Unary):
                _ref_names(x.expr, out)
            elif isinstance(x, A.IsNull):
                _ref_names(x.expr, out)

        ref_cols: set = set()
        for _, filt in filters:
            if filt is not None:
                _ref_names(filt, ref_cols)
        ref_cols = sorted(ref_cols)

        # Watermark eviction (round 8: now covers absence patterns too) is
        # sound only when arming is per-row (`every`, no mid-every): the
        # out-of-order fallback is a FULL RE-RUN over the buffer, and for
        # arm-once patterns the re-run's "first A" must be the true first A
        # ever — which eviction could remove. For every-patterns the re-run
        # reconstructs exactly the live partials from the retained suffix:
        # a kept partial's rows all have ts >= its first_ts (>= floor), and
        # a killed partial's guard row has ts >= its (evicted) a-row, so a
        # prefix eviction can never resurrect one.
        has_neg = any(e.negated for e in elems)
        neg_for_max = max(
            (e.for_ms or 0 for e in elems if e.negated), default=0
        )
        multi = every or every_at is not None
        can_evict = every and every_at is None and (
            within_ms is not None or has_neg
        )
        # EventTimeTimeout serves two jobs (round 10): absence confirmation
        # (has_neg, always on — the Siddhi scheduler-parity semantics) and
        # opt-in state GC for evictable every-patterns (purge — see the
        # constructor note): a key whose buffer AND partials empty out is
        # REMOVED (nothing is re-derivable, and the watermark bars older
        # arrivals), so state rows track ACTIVE keys, not lifetime keys.
        # Arm-once patterns keep their seal tombstone.
        purge = self.pattern_state_purge and multi and can_evict
        use_timeout = has_neg or purge

        # vectorizable 2-step shape -> numpy kernel instead of the row loop
        shape2 = (
            None if has_group
            else kernel2_shape(elems_c, every, every_at, strict_after)
        )

        class _ColView(dict):
            """Minimal pdf-like over numpy column arrays for ``_vec``."""

            @property
            def columns(self):
                return list(self.keys())

        def _mask_bool(fv):
            import numpy as _np

            if hasattr(fv, "to_numpy"):  # pandas Series
                return fv.to_numpy(dtype=bool, na_value=False)
            arr = _np.asarray(fv)
            if arr.dtype == object or arr.dtype.kind == "f":
                return _np.where(pd.isna(arr), False, arr).astype(bool)
            return arr.astype(bool)

        ref_pos = [(c, pos[c]) for c in ref_cols]
        # filter column dtypes from the Spark schema: fractional fields stay
        # float64 (an int64 cast would truncate 1.7 to 1); integral,
        # boolean, timestamp (micros) and date (days) fields pack as ints
        ref_dtype = {
            c: (
                object if isinstance(field_types.get(c), T.StringType)
                else "float64" if isinstance(
                    field_types.get(c), (T.FloatType, T.DoubleType)
                )
                else "int64"
            )
            for c in ref_cols
        }

        def _key_step(seen, buf_json, nfa_json, new_rows, wm):
            """ONE key's state transition for one micro-batch: merge decoded
            new rows into the sorted buffer, watermark-evict, run the
            kernel/NFA, confirm watermark-passed trailing absences
            (timer-fired, round 10 — Siddhi scheduler parity), dedup
            emissions. Returns ``(seen, buf_json, nfa_json, rows,
            new_caps, changed, timer, removable)``: ``timer`` is the
            event-time ms to arm the timeout at (earliest pending absence
            confirmation or GC horizon), or None; ``removable`` means the
            key's state can be DROPPED — empty buffer and no live
            partials, so nothing is re-derivable and the watermark bars
            older arrivals (state rows then track active keys, not
            lifetime keys).

            This is the only compute in the stateful pattern operator —
            shared verbatim by the per-key and bucketed (multi-key Arrow
            group) modes, so cross-mode parity is structural, not tested-in.
            """
            import hashlib as _hashlib
            import json as _json

            import numpy as _np

            if buf_json is None:
                nfa, rows = None, []
            else:
                rows = _json.loads(buf_json)
                nfa = _json.loads(nfa_json)
            if not multi and nfa is not None and nfa["st"]["done"]:
                # sealed: an arm-once pattern emits at most one match ever;
                # once emitted the buffer is dead weight and late arrivals
                # cannot retract the emission — drop everything, keep the
                # done marker so every later batch is a no-op
                return (
                    seen, "[]", nfa_json, [], [], buf_json != "[]",
                    None, False,
                )
            n_old = len(rows)
            n_new = len(new_rows)
            # tracks whether the buffer's CONTENT changed this visit (new
            # rows, watermark eviction, or the hard cap) — a timer-fired
            # visit that only confirms/re-arms leaves it False so the
            # caller can skip the state re-encode (round 11)
            buf_mutated = n_new > 0
            # in-order fast path: every new row strictly after the processed
            # high-water mark -> sort just the new suffix and RESUME the NFA
            # over it (O(new) per batch). Ties with the hwm fall back (a
            # same-ts arrival could interleave the old tail under the
            # deterministic tie-break and change strict/every semantics).
            in_order = (
                nfa is not None
                and nfa["hwm"] is not None
                and (
                    n_new == 0
                    or min(r[0] for r in new_rows) > nfa["hwm"]
                )
            )
            if in_order:
                if n_new:
                    if n_new > 1:
                        new_rows.sort(key=sort_key)
                    rows.extend(new_rows)
                start_idx, init = n_old, nfa["st"]
            else:
                rows.extend(new_rows)
                rows.sort(key=sort_key)
                start_idx, init = 0, None
            ts_arr = _np.fromiter(
                (r[0] for r in rows), dtype=_np.int64, count=len(rows)
            )
            if can_evict and wm > 0:
                # rows below (watermark - within) can never join a NEW match:
                # late arrivals below the watermark were already dropped
                # upstream, and any kept row's within-window still reaches
                # past the watermark. Prune is a PREFIX of the sorted buffer,
                # so surviving capture indices just shift down.
                #
                # Absence patterns (round 8): a killed partial's guard row
                # sits at ts >= its a-row, so prefix eviction still cannot
                # resurrect it on a full re-run — but a waiting-to-confirm
                # partial (deadline passed, next event pending) must keep its
                # captured rows until it resolves, so the floor drops by
                # max(for_ms) and clamps to min(first_ts) over live partials
                # (ROUND7_NOTES §Known future work, landed round 8).
                stale_floor = wm - (within_ms or 0)
                floor = stale_floor - neg_for_max
                if has_neg and nfa is not None:
                    live = [
                        d["first_ts"]
                        for grp in ("partials", "spawners")
                        for d in nfa["st"][grp]
                        if d["first_ts"] is not None
                    ]
                    if live:
                        floor = min(floor, min(live))
                k = int(_np.searchsorted(ts_arr, floor))
                if k > 0:
                    buf_mutated = True
                    rows = rows[k:]
                    ts_arr = ts_arr[k:]
                    if init is not None:
                        for group in ("partials", "spawners"):
                            kept = []
                            for d in init[group]:
                                if (
                                    not has_neg
                                    and d["first_ts"] is not None
                                    and d["first_ts"] < stale_floor
                                ):
                                    continue  # stale: its window closed
                                d["captured"] = [
                                    [j - k for j in idxs]
                                    for idxs in d["captured"]
                                ]
                                kept.append(d)
                            init[group] = kept
                    start_idx = max(start_idx - k, 0)
            if len(rows) > max_buffer:
                # hard cap: evict the oldest event-time rows and resync with
                # a full re-run (the seen-set suppresses re-emissions)
                buf_mutated = True
                rows = rows[len(rows) - max_buffer:]
                ts_arr = ts_arr[len(ts_arr) - max_buffer:]
                start_idx, init = 0, None
            n_total = len(rows)
            region_identity = init is not None and start_idx >= n_total
            if region_identity:
                # empty-region fast path (round 11, VERDICT r10 item 2): a
                # timer-fired/quiescent visit carries no new rows, so every
                # kernel/NFA run is the identity on `init` (no row past
                # start_idx means no transition; serialized state round-trips
                # byte-equal) — skip mask construction and the engine call;
                # the quiescent pass below does the visit's real work
                found, nfa_st = [], init
            else:
                # masks over the scanned region only (rows[start_idx:]); the
                # old prefix is only indexed via partials' captured
                # positions, never re-tested, so it pads as False
                region = rows[start_idx:] if start_idx else rows
                masks = []
                if any(filt is not None for _, filt in filters):
                    view = {}
                    for c, p_ in ref_pos:
                        vals = [r[p_] for r in region]
                        dt = ref_dtype[c]
                        if dt == "int64" and None in vals:
                            dt = "float64"  # nulls ride as NaN
                        view[c] = _np.asarray(vals, dtype=dt)
                    view = _ColView(view)
                base = _np.ones(len(region), dtype=bool)
                zpad = (
                    _np.zeros(start_idx, dtype=bool) if start_idx else None
                )
                for _, filt in filters:
                    if filt is None:
                        m = base
                    else:
                        m = base & _mask_bool(_vec(filt, view))
                    if zpad is not None:
                        m = _np.concatenate([zpad, m])
                    masks.append(m)
                # visit-size hybrid for the QUANT kernels (late round 10):
                # their boundary-race pipelines carry a ~100-130µs fixed
                # numpy cost per invocation, so on a small visit (few new
                # rows × few live partials/arms) the general row loop is
                # cheaper — measured crossover ≈ 128 row·partial units (the
                # cheaper plain-chain and absence kernels always win and
                # stay unconditional). Engine states are byte-equal
                # (tests/test_kernel2_unit.py interop), so the choice is
                # free to vary per visit.
                visit_shape = shape2
                if shape2 in ("quant2", "chain_quant"):
                    n_pend_ = len(init["partials"]) if init else 0
                    n_arms_ = int(masks[0][start_idx:].sum())
                    if (
                        (n_total - start_idx) * (1 + n_pend_ + n_arms_) < 128
                    ):
                        visit_shape = None  # row loop
                found, nfa_st = run_shape(
                    visit_shape, ts_arr, masks, raw_steps_c, strict_after,
                    every, within_ms, every_at=every_at,
                    start_idx=start_idx, init=init,
                )

            # timer-fired absence (round 10, VERDICT r9 ask #1): a partial
            # whose trailing 'not X for t' deadline the WATERMARK has passed
            # confirms now, with no further events on this key — Siddhi
            # fires these from its scheduler; here the event-time timer the
            # caller arms at ``pend`` plays that role. Sound because rows at
            # or below the watermark are dropped upstream, so no future
            # event can kill the guard.
            pend = None
            confirmed = False
            if has_neg:
                # wm=0 (no watermark yet) confirms nothing but still
                # surfaces the pending deadline so the timer arms in batch 1
                extra, nfa_st, pend = quiescent_confirm(
                    nfa_st, steps_norm, wm, multi
                )
                if extra:
                    confirmed = True
                    found = list(found) + extra

            # identity = the captured rows' CONTENT (buffer positions shift
            # as rows arrive/evict, so indices are not stable across batches)
            def match_key(cap):
                payload = _json.dumps(
                    [[rows[j] for j in idxs] for idxs in cap]
                )
                return _hashlib.md5(payload.encode()).hexdigest()

            seen_set = set(seen)
            new_caps = []
            for cap in found:
                k = match_key(cap)
                if k not in seen_set:
                    seen_set.add(k)
                    seen.append(k)
                    new_caps.append(cap)
            if len(seen) > 4 * max_buffer:
                seen = seen[-4 * max_buffer:]
            hwm = (
                int(ts_arr[-1])  # buffer is sorted by TS_COL
                if n_total
                else (nfa["hwm"] if nfa is not None else None)
            )
            # timer = earliest actionable watermark instant: pending absence
            # confirmation (wm > pend), then the GC horizon — the instant
            # past which the whole buffer is evictable and every live
            # partial stale, so the timed-out visit drains the key to
            # removable. removable = nothing re-derivable now (empty buffer
            # implies empty partials: eviction retains live partials' rows).
            removable = (
                multi and can_evict and not rows
                and not nfa_st["partials"] and not nfa_st["spawners"]
            )
            timer = None if pend is None else pend + 1
            if purge and rows:
                horizon = hwm + (within_ms or 0) + neg_for_max + 1
                timer = horizon if timer is None else min(timer, horizon)
            if region_identity and not buf_mutated and not confirmed:
                # nothing changed this visit (no rows, no eviction, no
                # confirmation): hand back the ORIGINAL encodings so the
                # caller skips the state write and the json re-encode
                return (
                    seen, buf_json, nfa_json, rows, new_caps, False,
                    timer, removable,
                )
            return (
                seen,
                _json.dumps(rows),
                _json.dumps({"hwm": hwm, "st": nfa_st}),
                rows,
                new_caps,
                True,
                timer,
                removable,
            )

        def _emit_into(data, new_caps, rows):
            """Append the new matches' output cells into the accumulator."""
            import datetime as _dt

            def _cell(fname: str, j: int):
                v = rows[j][pos[fname]]
                if v is None:
                    return None
                if fname in dt_us_fields:
                    return pd.Timestamp(v, unit="us")
                if fname in date_fields:
                    return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
                return v

            for cap in new_caps:
                for ei, e in enumerate(elems_c):
                    if e.negated:
                        continue
                    for fname in field_names[e.alias]:
                        cname = col_of[(e.alias, fname)]
                        vals = [_cell(fname, j) for j in cap[ei]]
                        if collection[e.alias]:
                            data[cname].append(vals)
                        else:
                            data[cname].append(vals[0] if vals else None)

        def proc(
            key, pdfs: Iterator[pd.DataFrame], state: GroupState
        ) -> Iterator[pd.DataFrame]:
            import json as _json

            if state.hasTimedOut and not has_neg:
                # purge timer fired: the last-armed horizon guarantees the
                # whole buffer evictable and every partial stale — drop the
                # key without decoding anything (for non-absence patterns a
                # timed-out visit can never emit)
                for _ in pdfs:
                    pass
                state.remove()
                return
            if state.exists:
                seen, buf_json, nfa_json = state.get
                seen = list(seen)
            else:
                seen, buf_json, nfa_json = [], None, None
            if not multi and nfa_json is not None:
                # peek the seal BEFORE decoding the batch: a sealed key's
                # later batches must stay no-ops (no per-row json work)
                if _json.loads(nfa_json)["st"]["done"]:
                    for _ in pdfs:
                        pass
                    if buf_json != "[]":
                        state.update((seen, "[]", nfa_json))
                    return
            # the buffer lives as a sorted LIST OF ROW ARRAYS — no pandas in
            # the per-key hot path (a pandas multi-column sort alone costs
            # ~1.3ms FIXED per call; at 100k keys/batch that dominated the
            # round-7 streaming probe)
            new_rows = []
            loads = _json.loads
            for pdf in pdfs:
                if len(pdf):
                    for s in pdf["__row"].tolist():
                        d = loads(s)
                        new_rows.append([d[k] for k in pack_keys])
            # a timer-fired visit (key quiescent, watermark passed a pending
            # absence deadline or the GC horizon) carries no rows;
            # _key_step's quiescent pass does the confirmation/drain work
            wm = state.getCurrentWatermarkMs()
            seen, buf2, nfa2, rows, new_caps, changed, timer, removable = (
                _key_step(seen, buf_json, nfa_json, new_rows, wm)
            )
            if removable:
                if state.exists:
                    state.remove()
            else:
                if changed:
                    state.update((seen, buf2, nfa2))
                if timer is not None:
                    # Siddhi-scheduler parity + state GC: wake this key when
                    # the watermark passes the earliest pending absence
                    # deadline or the eviction horizon, even if its stream
                    # goes silent (a timestamp at/below the watermark is
                    # rejected, hence the clamp)
                    state.setTimeoutTimestamp(max(timer, wm + 1))
            if not new_caps:
                return  # no output build for no-match keys (the common case)
            data = {n: [] for n in out_names}
            _emit_into(data, new_caps, rows)
            yield pd.DataFrame(data, columns=out_names, dtype=object)

        n_buckets = self.pattern_key_buckets
        if n_buckets:
            # ---- bucketed mode (round 9, VERDICT r8 ask #1): group by
            # pmod(xxhash64(key), N) and demultiplex the member keys inside
            # ONE Arrow group. Each key still runs the identical _key_step;
            # the ~280us fixed per-key-VISIT machinery (Arrow slice +
            # GroupState proto round-trip, the profiled floor on 10^5-key
            # drains) is paid once per BUCKET instead of once per key.
            # Bucket state = four parallel string arrays (pks are
            # json-encoded scalars); untouched keys' blobs pass through
            # with ZERO json work.
            if pk:
                pk_t = field_types.get(pk[stream])
                if not isinstance(pk_t, _NUM_T + (T.StringType, T.BooleanType)):
                    raise UnsupportedFeatureException(
                        f"pattern_key_buckets: partition key '{pk[stream]}' "
                        f"of type {pk_t.simpleString()} — bucketed keys must "
                        "be numeric/string/boolean"
                    )
            bucket_state_schema = T.StructType(
                [
                    T.StructField("n", T.LongType()),
                    T.StructField("pks", T.ArrayType(T.StringType())),
                    T.StructField("seens", T.ArrayType(T.StringType())),
                    T.StructField("bufs", T.ArrayType(T.StringType())),
                    T.StructField("nfas", T.ArrayType(T.StringType())),
                    # per-key next action instant (ms; -1 = none): earliest
                    # pending absence confirmation or GC horizon — a
                    # parallel long array like the funnel twins' fire-times,
                    # so due keys are found with zero json work
                    T.StructField("deads", T.ArrayType(T.LongType())),
                ]
            )

            def proc_bucket(
                key, pdfs: Iterator[pd.DataFrame], state: GroupState
            ) -> Iterator[pd.DataFrame]:
                import json as _json

                import numpy as _np

                if state.exists:
                    stored_n, pks, seens, bufs, nfas, deads = state.get
                    if stored_n != n_buckets:
                        # key->bucket routing changed: old state would sit
                        # in buckets its keys no longer hash to — silent
                        # wrong results. Fail loudly instead.
                        raise RuntimeError(
                            f"pattern_key_buckets changed across restart "
                            f"(checkpoint has {stored_n}, query asks "
                            f"{n_buckets}); bucket count is fixed at the "
                            "checkpoint's creation — use a new checkpoint"
                        )
                    st = {
                        k: [s, b, nf, dl]
                        for k, s, b, nf, dl in zip(
                            pks, seens, bufs, nfas, deads
                        )
                    }
                else:
                    st = {}
                loads = _json.loads
                # group arriving packed rows by their TRUE key, preserving
                # per-key arrival order (stable argsort over factorize codes
                # — no per-row python until the decode the per-key mode pays
                # anyway)
                per_key: dict = {}
                for pdf in pdfs:
                    if not len(pdf):
                        continue
                    codes, uniq = pd.factorize(
                        pdf[PK_COL], use_na_sentinel=False
                    )
                    strs = pdf["__row"].to_numpy()
                    order = _np.argsort(codes, kind="stable")
                    bounds = _np.searchsorted(
                        codes[order], _np.arange(len(uniq) + 1)
                    )
                    keys_py = uniq.tolist()
                    for i in range(len(keys_py)):
                        lst = per_key.setdefault(
                            _json.dumps(keys_py[i]), []
                        )
                        for s in strs[order[bounds[i]:bounds[i + 1]]].tolist():
                            d = loads(s)
                            lst.append([d[k] for k in pack_keys])
                wm = state.getCurrentWatermarkMs()
                data = None
                for kenc, new_rows in per_key.items():
                    prev = st.get(kenc)
                    if prev is None:
                        seen, buf_json, nfa_json = [], None, None
                    else:
                        seen = loads(prev[0])
                        buf_json, nfa_json = prev[1], prev[2]
                    (seen, buf2, nfa2, rows, new_caps, changed, timer,
                     removable) = _key_step(
                        seen, buf_json, nfa_json, new_rows, wm
                    )
                    if removable:
                        st.pop(kenc, None)
                    elif changed or prev is None:
                        st[kenc] = [
                            _json.dumps(seen), buf2, nfa2,
                            -1 if timer is None else timer,
                        ]
                    if new_caps:
                        if data is None:
                            data = {n: [] for n in out_names}
                        _emit_into(data, new_caps, rows)
                if use_timeout and wm > 0 and not has_neg:
                    # purge-only sweep: a passed horizon means the member
                    # key is drained — drop its arrays entry with zero
                    # decode work (non-absence timed-out visits never emit)
                    for kenc in [
                        k for k, rec in st.items()
                        if k not in per_key and 0 <= rec[3] <= wm
                    ]:
                        st.pop(kenc, None)
                elif use_timeout and wm > 0:
                    # timer-fired sweep (round 10): member keys the batch
                    # did NOT visit but whose next action instant (absence
                    # confirmation or GC horizon) the watermark has passed —
                    # the deads array finds them with zero blob parsing
                    for kenc in [
                        k for k, rec in st.items()
                        if k not in per_key and rec[3] >= 0 and wm >= rec[3]
                    ]:
                        rec = st[kenc]
                        (seen, buf2, nfa2, rows, new_caps, changed, timer,
                         removable) = _key_step(
                            loads(rec[0]), rec[1], rec[2], [], wm
                        )
                        if removable:
                            st.pop(kenc, None)
                        else:
                            st[kenc] = [
                                _json.dumps(seen), buf2, nfa2,
                                -1 if timer is None else timer,
                            ]
                        if new_caps:
                            if data is None:
                                data = {n: [] for n in out_names}
                            _emit_into(data, new_caps, rows)
                if st:
                    ks = list(st)
                    state.update(
                        (
                            n_buckets,
                            ks,
                            [st[k][0] for k in ks],
                            [st[k][1] for k in ks],
                            [st[k][2] for k in ks],
                            [st[k][3] for k in ks],
                        )
                    )
                    if use_timeout:
                        bucket_t = min(
                            (st[k][3] for k in ks if st[k][3] >= 0),
                            default=None,
                        )
                        if bucket_t is not None:
                            state.setTimeoutTimestamp(max(bucket_t, wm + 1))
                elif state.exists:
                    state.remove()  # every member key drained: drop the row
                if data is not None:
                    yield pd.DataFrame(data, columns=out_names, dtype=object)

            df = df.withColumn(
                "__bucket",
                F.pmod(F.xxhash64(F.col(PK_COL)), F.lit(n_buckets)),
            )
            # absence patterns and evictable every-patterns run under
            # EventTimeTimeout: quiescent keys confirm 'not X for t' from
            # the timer once the watermark passes the deadline (Siddhi
            # fires these from its scheduler — round 10, VERDICT r9 ask
            # #1), and drained keys are GC'd at the eviction horizon so
            # state tracks active keys, not lifetime keys
            result = df.groupBy("__bucket").applyInPandasWithState(
                proc_bucket, out_schema, bucket_state_schema, "append",
                GroupStateTimeout.EventTimeTimeout if use_timeout
                else GroupStateTimeout.NoTimeout,
            )
        else:
            result = df.groupBy(PK_COL).applyInPandasWithState(
                proc, out_schema, state_schema, "append",
                GroupStateTimeout.EventTimeTimeout if use_timeout
                else GroupStateTimeout.NoTimeout,
            )

        singles = [e for e in elems if not e.negated]

        def resolve(ref: A.Ref) -> Column:
            if ref.stream is not None:
                key = (ref.stream, ref.name)
                if key not in col_of:
                    raise SiddhiPlannerException(f"unknown pattern reference {ref.stream}.{ref.name}")
                c = F.col(col_of[key])
                if collection.get(ref.stream, False):
                    # F.get: null past the captured count (Siddhi semantics)
                    return F.get(c, ref.index if ref.index is not None else 0)
                return c
            for e in singles:
                if ref.name in field_names[e.alias]:
                    c = F.col(col_of[(e.alias, ref.name)])
                    return F.get(c, 0) if collection[e.alias] else c
            raise SiddhiPlannerException(f"unknown column '{ref.name}' after pattern")

        return self._select_rowwise(result, q, resolve, out_names)
