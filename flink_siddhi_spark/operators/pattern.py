"""Pattern & sequence matching (CEP core) as an Arrow-batched NFA operator.

Covers the constructs exercised by the reference (SiddhiCEPITCase.java:333-382
and README.md:87-90): followed-by ``A -> B``, ``every``, strict sequences
``A , B``, quantifiers ``+ * ? <n:m>``, ``within <t>``, absence
``not X [for t]``, and per-key partitioned matching (``partition with``).

Spark-first design: there is no Catalyst primitive for NFA matching, so this
is the one operator implemented with ``applyInPandas`` (SURVEY.md §7.2). The
input streams are unioned by name, tagged, *pre-filtered to candidate rows
when semantics allow* (relaxed '->' patterns only look at matching events, so
non-candidates are dropped before the shuffle — at 100 TB this predicate
pushdown is what makes the operator feasible), hash-partitioned by the
``partition with`` key, sorted by event time within each key, and matched by
a per-key NFA whose filters are evaluated as vectorized pandas masks (one
pass per element, not per row).

Un-partitioned patterns collapse to a single task by necessity (a global
total-order match is sequential by definition — same as the reference's
single-feed operator); partitioned patterns scale with key cardinality.

Batch-mode semantics (the oracle-checked contract):
- events are totally ordered by (event-time, declared fields);
- without ``every`` only the first match is emitted; with ``every`` a new
  match attempt starts at every event and all concurrent partials complete;
- quantified elements are greedy; a partial advances past an element once an
  event cannot extend it but can start the next element;
- trailing optional/absence elements complete at the first event past them
  (or at end-of-data, which batch mode treats as stream close);
- ``within t`` requires last.ts - first.ts <= t.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field as dc_field

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import SiddhiPlannerException, UnsupportedFeatureException
from ..siddhiql import ast as A

TS_COL = "__ts"
STREAM_COL = "__stream"
PK_COL = "__pk"

_BIN = {
    "==": operator.eq, "!=": operator.ne, "<": operator.lt, "<=": operator.le,
    ">": operator.gt, ">=": operator.ge, "+": operator.add, "-": operator.sub,
    "*": operator.mul, "/": operator.truediv, "%": operator.mod,
}


def _vec(e: A.Expr, pdf: pd.DataFrame):
    """Vectorized filter evaluation over a pandas frame (no per-row Python)."""
    if isinstance(e, A.Literal):
        return e.value
    if isinstance(e, A.Ref):
        if e.stream is not None or e.index is not None:
            raise SiddhiPlannerException(
                f"pattern element filters use bare attributes, got {e.stream}.{e.name}"
            )
        if e.name not in pdf.columns:
            raise SiddhiPlannerException(f"unknown attribute '{e.name}' in pattern filter")
        return pdf[e.name]
    if isinstance(e, A.Binary):
        l, r = _vec(e.left, pdf), _vec(e.right, pdf)
        if e.op == "and":
            return l & r
        if e.op == "or":
            return l | r
        return _BIN[e.op](l, r)
    if isinstance(e, A.Unary):
        v = _vec(e.expr, pdf)
        return ~v if e.op == "not" else -v
    if isinstance(e, A.IsNull):
        v = _vec(e.expr, pdf)
        isna = v.isna() if hasattr(v, "isna") else pd.isna(v)
        return ~isna if e.negated else isna
    raise UnsupportedFeatureException(
        f"expression {type(e).__name__} not supported in pattern filters"
    )


@dataclass
class _Step:
    """Normalized pattern step: one element, or an and/or group of elements.

    ``flat``: indices into the flat element list (masks/captures are flat)."""

    op: str  # 'single' | 'and' | 'or'
    flat: list[int]
    elem: A.PatternElem  # representative (the single elem, or group's first)
    elems: list[A.PatternElem] = None  # type: ignore[assignment]


def normalize_steps(steps: list) -> tuple[list[_Step], list[A.PatternElem]]:
    """Flatten PatternElem|PatternGroup steps; returns (steps, flat elems)."""
    out: list[_Step] = []
    flat: list[A.PatternElem] = []
    for s in steps:
        if isinstance(s, A.PatternGroup):
            idxs = []
            for e in s.elems:
                if e.negated or e.is_collection or e.min_count != 1:
                    raise SiddhiPlannerException(
                        "and/or pattern groups take plain (unquantified) elements"
                    )
                idxs.append(len(flat))
                flat.append(e)
            out.append(_Step(s.op, idxs, s.elems[0], list(s.elems)))
        else:
            out.append(_Step("single", [len(flat)], s, [s]))
            flat.append(s)
    return out, flat


@dataclass
class _Partial:
    pos: int
    captured: list[list[int]]  # per FLAT elem: row indices
    first_ts: int | None = None
    last_ts: int | None = None  # ts of the last captured row (arms 'not X for t')
    neg_deadline: int | None = None


def _step_satisfied(p: _Partial, st: _Step) -> bool:
    if st.op == "single":
        return len(p.captured[st.flat[0]]) >= st.elem.min_count
    if st.op == "and":
        return all(len(p.captured[f]) >= 1 for f in st.flat)
    return any(len(p.captured[f]) >= 1 for f in st.flat)  # or


def _step_optional(st: _Step) -> bool:
    return st.op == "single" and not st.elem.negated and st.elem.min_count == 0


def _partial_to_dict(p: _Partial) -> dict:
    return {
        "pos": p.pos, "captured": [list(c) for c in p.captured],
        "first_ts": p.first_ts, "last_ts": p.last_ts,
        "neg_deadline": p.neg_deadline,
    }


def _partial_from_dict(d: dict) -> _Partial:
    return _Partial(
        d["pos"], [list(c) for c in d["captured"]],
        first_ts=d["first_ts"], last_ts=d["last_ts"],
        neg_deadline=d["neg_deadline"],
    )


def _run_nfa(
    rows: pd.DataFrame,
    masks: list,
    raw_steps: list,
    strict_after: list[bool],
    every: bool,
    within_ms: int | None,
    at_close: bool = True,
    every_at: int | None = None,
    start_idx: int = 0,
    init: dict | None = None,
    return_state: bool = False,
    ts_vals=None,
):
    """Run the NFA over one partition; returns captured row-index lists
    (one list per FLAT element per match).

    ``every_at``: Siddhi's mid-pattern 'every' (suffix restart). When a
    partial completes the step before ``every_at`` it converts to a SPAWNER:
    a frozen prefix that, at every subsequent event, emits a clone attempting
    the suffix — so every qualifying suffix occurrence yields a match (the
    spawner itself never advances). Clones that fail to consume their first
    event are dropped (the spawner re-arms next event), keeping live state
    bounded by suffix length, not stream length.

    Streaming continuation (round 7): ``start_idx``/``init``/``return_state``
    let a micro-batch caller resume from serialized partials and scan ONLY
    the newly-arrived suffix of the (sorted) buffer — O(new) per batch
    instead of O(buffer) — and get the final NFA state back. ``init`` is the
    dict a previous ``return_state=True`` call produced (captured indices
    are positions in the same sorted buffer, shifted by the caller on
    eviction). With ``return_state`` the return value is ``(matches,
    state_dict)``."""
    steps, flat = normalize_steps(raw_steps)
    n_steps = len(steps)
    n_flat = len(flat)
    if ts_vals is None:
        ts_vals = rows[TS_COL].to_numpy()
    matches: list[list[list[int]]] = []
    if init is not None:
        partials = [_partial_from_dict(d) for d in init["partials"]]
        spawners = [_partial_from_dict(d) for d in init["spawners"]]
        started = init["started"]
        done = init["done"]
    else:
        partials = []
        spawners = []
        started = False
        done = False
    multi = every or every_at is not None

    def emit(p: _Partial):
        matches.append([list(c) for c in p.captured])

    def last_step_done_now(p: _Partial) -> bool:
        st = steps[p.pos]
        if p.pos != n_steps - 1 or st.elem.negated:
            return False
        if st.op == "single":
            return (not st.elem.is_collection) and _step_satisfied(p, st)
        return _step_satisfied(p, st)

    n_rows = len(ts_vals)
    for i in range(start_idx, n_rows):
        if done:
            break
        ts = int(ts_vals[i])
        survivors: list[_Partial] = []
        emitted_now = False
        attempt_pool = list(partials)
        clone_ids: set[int] = set()
        if spawners:
            live = []
            for s in spawners:
                if within_ms is not None and ts - s.first_ts > within_ms:
                    continue  # spawner's match window closed
                live.append(s)
                c = _Partial(
                    s.pos, [list(x) for x in s.captured],
                    first_ts=s.first_ts, last_ts=s.last_ts,
                )
                clone_ids.add(id(c))
                attempt_pool.append(c)
            spawners = live
        if every or not started:
            attempt_pool.append(_Partial(0, [[] for _ in range(n_flat)]))
        for p in attempt_pool:
            is_fresh = p.first_ts is None or id(p) in clone_ids
            beyond = (
                within_ms is not None
                and p.first_ts is not None
                and ts - p.first_ts > within_ms
            )
            if beyond and _needs_capture(p, steps):
                continue  # evict: a required capture can't fit the window
            res = _step(
                p, i, ts, steps, masks, strict_after, no_capture=beyond
            )
            if res == "consumed":
                if p.first_ts is None:
                    p.first_ts = ts
                    started = True
                p.last_ts = ts
                if last_step_done_now(p):
                    if within_ms is None or ts - p.first_ts <= within_ms:
                        emit(p)
                        emitted_now = True
                        if not multi:
                            done = True
                        continue
                if (
                    every_at is not None
                    and p.pos == every_at - 1
                    and _step_satisfied(p, steps[every_at - 1])
                ):
                    # prefix complete: freeze it; clones take the suffix from
                    # the NEXT event on (the completing event is prefix-only)
                    p.pos = every_at
                    spawners.append(p)
                    continue
                survivors.append(p)
            elif res == "completed":
                if within_ms is None or (p.first_ts is not None):
                    emit(p)
                    emitted_now = True
                    if not multi:
                        done = True
            elif res == "kept":
                if not is_fresh:
                    survivors.append(p)
            # 'died' -> dropped
        partials = survivors
        if emitted_now and not multi:
            done = True
    # end of data: stream close confirms absence / completes trailing optionals.
    # Streaming callers pass at_close=False — a micro-batch boundary is NOT a
    # stream close, so trailing absence/optionals must wait for a later event.
    if not done and at_close:
        for p in partials:
            if p.first_ts is not None and _can_close(p, steps):
                emit(p)
                if not multi:
                    break
    if return_state:
        return matches, {
            "partials": [_partial_to_dict(p) for p in partials],
            "spawners": [_partial_to_dict(s) for s in spawners],
            "started": started,
            "done": done,
        }
    return matches


def kernel2_shape(elems, every: bool, every_at, strict_after) -> str | None:
    """Classify a pattern into the label :func:`run_shape` dispatches on,
    or ``None`` when it needs the general per-row NFA. There is one numpy
    kernel per stage kind; each 2-step label is the k = 2 case of its
    chain label (the labels stay apart because the benchmark's kernel
    replay names them):

    - ``'every2'`` / ``'chain'``: ``every e1=A1 (->|,) ... (->|,) ek=Ak
      [within t]`` — plain elements, any mix of relaxed and strict
      connectors — on :func:`run_kernel_chain`;
    - ``'plain2'`` / ``'plain_chain'``: the same without ``every`` (the
      arm-once first-attempt contract, PARITY.md) — on
      :func:`run_kernel_chain_nonevery`;
    - ``'quant2'`` / ``'chain_quant'``: a relaxed ``every`` chain with one
      or more quantified ``<n:m>`` elements (n >= 1), none last and no two
      adjacent — on :func:`run_kernel_chain_quants`;
    - ``'absence2'`` / ``'chain_absence'``: a relaxed ``every`` chain of
      plain elements ending in ``not Ak for t`` — on
      :func:`run_kernel_chain_absence` (streaming only: batch absence also
      confirms at stream close, which only the general NFA does).

    Left on the general NFA: mid-pattern ``every``, and/or groups, strict
    connectors in quantified or absence chains, trailing or adjacent
    quantifiers, ``a*``/``a?`` (empty-capture close semantics), and bare
    ``not X`` without ``for``. These cover the dominant production CEP
    shapes (the reference's own examples, SiddhiCEPITCase.java:333-382,
    are all 2-step; relaxed chains are the classic funnel)."""
    if every_at is not None or len(elems) < 2:
        return None
    if not all(isinstance(e, A.PatternElem) for e in elems):
        return None
    if len(strict_after) != len(elems) - 1 or elems[0].negated:
        return None

    def _plain(e):
        return not e.negated and e.min_count == 1 and e.max_count == 1

    two = len(elems) == 2
    if all(_plain(e) for e in elems):
        if every:
            return "every2" if two else "chain"
        return "plain2" if two else "plain_chain"
    if any(strict_after) or not every:
        return None
    last = elems[-1]
    if all(_plain(e) for e in elems[:-1]):
        if last.negated and last.for_ms is not None and not last.is_collection:
            return "absence2" if two else "chain_absence"
        return None
    if not _plain(last):
        return None
    # quantified stages race the plain stage after them; adjacent quants
    # would race each other's extension, a case the boundary logic does
    # not model
    nonplain = [i for i, e in enumerate(elems) if not _plain(e)]
    if (
        all(not elems[i].negated and elems[i].min_count >= 1
            for i in nonplain)
        and all(b - a >= 2 for a, b in zip(nonplain, nonplain[1:]))
    ):
        return "quant2" if two else "chain_quant"
    return None


def run_shape(shape, ts_vals, masks, steps, strict_after, every,
              within_ms, every_at=None, start_idx=0, init=None,
              at_close=False):
    """Run one key's sorted feed on the engine a :func:`kernel2_shape`
    label picks — the one dispatch the batch operator and the streaming
    operator share. Returns ``(matches, state)``; every engine reads and
    writes the same serialized partial format, so a caller may switch
    engines between calls (the streaming visit-size hybrid does).

    ``at_close``: the feed ends at stream close (batch). The absence
    kernels never confirm at a feed's end, so absence shapes then run on
    the general NFA, which confirms there."""
    if at_close and shape in ("absence2", "chain_absence"):
        shape = None
    if shape in ("every2", "chain"):
        return run_kernel_chain(
            ts_vals, masks, start_idx, init, within_ms, strict_after,
        )
    if shape in ("plain2", "plain_chain"):
        return run_kernel_chain_nonevery(
            ts_vals, masks, start_idx, init, within_ms, strict_after,
        )
    if shape in ("quant2", "chain_quant"):
        quants = [
            (i, e.min_count, e.max_count) for i, e in enumerate(steps)
            if e.min_count != 1 or e.max_count != 1
        ]
        return run_kernel_chain_quants(
            ts_vals, masks, quants, start_idx, init, within_ms,
        )
    if shape in ("absence2", "chain_absence"):
        return run_kernel_chain_absence(
            ts_vals, masks, start_idx, init, within_ms, steps[-1].for_ms,
        )
    return _run_nfa(
        None, masks, steps, strict_after, every, within_ms,
        at_close=at_close, every_at=every_at, start_idx=start_idx,
        init=init, return_state=True, ts_vals=ts_vals,
    )


def run_kernel2(ts_vals, mask_a, mask_b, start_idx, init, within_ms, strict):
    """``every a=A (->|,) b=B`` — :func:`run_kernel_chain` at k = 2 (the
    entry point perfbench's kernel replay calls by name)."""
    return run_kernel_chain(
        ts_vals, [mask_a, mask_b], start_idx, init, within_ms, [strict],
    )


def run_kernel2_absence(ts_vals, mask_a, mask_b, start_idx, init, within_ms,
                        for_ms):
    """``every a=A -> not B for t`` — :func:`run_kernel_chain_absence` at
    k = 2 (the entry point perfbench's kernel replay calls by name)."""
    return run_kernel_chain_absence(
        ts_vals, [mask_a, mask_b], start_idx, init, within_ms, for_ms,
    )


def _fill_stage(ts_vals, mask, cap, s, first_ts, start_idx, within_ms,
                strict=False, dead=None):
    """Capture positive stage ``s`` for every partial (a column of
    ``cap``, -1 = not captured) that holds stage s-1 but not s — the
    chain kernels' one stage fill, exact ``_run_nfa`` semantics,
    vectorized across partials:

    - relaxed ``->``: the FIRST row matching stage s strictly after the
      stage s-1 capture, among new rows only (a resumed partial saw no
      stage-s match in the already-scanned prefix). A candidate beyond
      the within window stays -1: the row loop evicts the partial at
      that row, and the callers' survivor rule agrees
      (ts[-1] >= ts[cand] > first_ts + t);
    - strict ``,``: the row right after the stage s-1 capture. If that
      row fails ``mask`` or sits beyond the within window, the partial
      dies (marked in ``dead``); if it has not arrived yet, the partial
      stays pending."""
    import numpy as np

    need = (cap[s] < 0) & (cap[s - 1] >= 0)
    if not need.any():
        return
    if strict:
        cand = cap[s - 1][need] + 1
        has = cand < len(ts_vals)
        safe = np.where(has, cand, 0)
        hit = has & mask[safe]
        if within_ms is not None:
            hit &= (ts_vals[safe] - first_ts[need]) <= within_ms
        dead[need] |= has & ~hit
        cap[s, need] = np.where(hit, cand, -1)
        return
    new_s = (np.nonzero(mask[start_idx:])[0] + start_idx).astype(np.int64)
    if not len(new_s):
        return
    si = np.searchsorted(new_s, cap[s - 1][need], side="right")
    has = si < len(new_s)
    cand = new_s[np.minimum(si, len(new_s) - 1)]
    if within_ms is not None:
        has &= (ts_vals[np.where(has, cand, 0)] - first_ts[need]) <= within_ms
    cap[s, need] = np.where(has, cand, -1)


def run_kernel_chain(
    ts_vals,
    masks: list,
    start_idx: int,
    init: dict | None,
    within_ms: int | None,
    strict_after: list | None = None,
):
    """Vectorized NFA for ``every e1=A1 (->|,) ... (->|,) ek=Ak
    [within t]`` — the k-step plain chain, any k >= 2, with per-connector
    strictness (``strict_after[s-1]`` for the connector into stage s;
    None = all relaxed). Exact ``_run_nfa`` semantics:

    - each A1-row arms a partial; stage by stage it captures per
      :func:`_fill_stage` and emits at the final stage's row;
    - ``within t``: the general NFA evicts a partial at the first row
      (of any kind) beyond ``first_ts + t`` while a capture remains, so
      ANY stage capture beyond the window means no match EVER — the
      buffer is ts-sorted, so the gate is one comparison per candidate
      and the survivor rule is ``ts[-1] - a_ts <= t``;
    - pending state: a partial with j stages captured serializes at
      ``pos`` j-1 (the row loop's lazy advance — a freshly-armed partial
      sits at pos 0), byte-equal to ``_run_nfa`` and resumable by either
      engine across micro-batches (pinned by tests/test_kernel2_unit.py).

    One ``searchsorted`` (relaxed) or one gather (strict) per stage,
    vectorized across every live partial still needing that stage."""
    import numpy as np

    k = len(masks)
    n = len(ts_vals)
    strict = strict_after or [False] * (k - 1)
    if init is not None:
        pend = init["partials"]
        pend_ats = [int(p["first_ts"]) for p in pend]
        pend_caps = [
            [int(c[0]) if c else -1 for c in p["captured"]] for p in pend
        ]
        started = bool(init["started"])
    else:
        pend_ats, pend_caps, started = [], [], False
    new_a = (np.nonzero(masks[0][start_idx:])[0] + start_idx).astype(np.int64)
    n_pend = len(pend_caps)
    n_a = n_pend + len(new_a)
    if not n_a:
        return [], {
            "partials": [], "spawners": [],
            "started": started, "done": False,
        }
    a_ts = np.concatenate(
        [np.asarray(pend_ats, dtype=np.int64), ts_vals[new_a]]
    )
    # cap[s][i] = buffer position captured for stage s by partial i
    cap = np.full((k, n_a), -1, dtype=np.int64)
    for i, caps in enumerate(pend_caps):
        for s, c in enumerate(caps):
            cap[s, i] = c
    cap[0, n_pend:] = new_a
    dead = np.zeros(n_a, dtype=bool)
    for s in range(1, k):
        _fill_stage(ts_vals, masks[s], cap, s, a_ts, start_idx, within_ms,
                    strict[s - 1], dead)
    ok = cap[k - 1] >= 0
    matches: list = []
    oi = np.nonzero(ok)[0]
    if len(oi):
        # emission order mirrors the row loop: by completing row, then
        # by partial age (the partials list stays in arming order)
        order = np.lexsort((oi, cap[k - 1][oi]))
        for i in oi[order]:
            matches.append([[int(cap[s, i])] for s in range(k)])
    keep = ~ok & ~dead
    if within_ms is not None and n:
        # the general NFA drops a partial at the first row beyond its
        # window, whatever that row's type
        keep &= (int(ts_vals[-1]) - a_ts) <= within_ms
    partials = []
    for i in np.nonzero(keep)[0]:
        filled = int(np.count_nonzero(cap[:, i] >= 0))
        partials.append({
            # pos advances lazily in the row loop: j captures -> pos j-1
            "pos": filled - 1,
            "captured": [
                [int(cap[s, i])] if cap[s, i] >= 0 else []
                for s in range(k)
            ],
            "first_ts": int(a_ts[i]),
            "last_ts": int(ts_vals[cap[filled - 1, i]]),
            "neg_deadline": None,
        })
    return matches, {
        "partials": partials,
        "spawners": [],
        "started": started or bool(n_a),
        "done": False,
    }


def run_kernel_chain_quants(
    ts_vals,
    masks: list,
    quants: list,
    start_idx: int,
    init: dict | None,
    within_ms: int | None,
):
    """Vectorized NFA for a k-step relaxed ``every`` chain, any k >= 2,
    with one OR MORE quantified non-final stages, no two adjacent:
    ``every e1=A1 -> ... -> q=Q<n:m> -> ... -> ek=Ak [within t]`` — from
    ``every a<n:m> -> b`` (k = 2, ``quants=[(0, n, m)]``) to shapes like
    ``a<1:2> -> b -> c<1:2> -> d``; each quantified stage runs its own
    completion-boundary race against the plain stage that follows it.
    ``quants`` is ``[(qpos, min_count, max_count), ...]`` sorted by qpos,
    every qpos in [0, k-2], qpos+1 never quantified. Exact ``_run_nfa``
    semantics per stage:

    - each A1-row arms a partial (a quantified stage 0 counts the arm row
      as its first capture); plain stages whose predecessor is plain
      capture the FIRST later matching row (:func:`_fill_stage`);
    - at a quant stage the partial extends GREEDILY on each later Q-row
      while below ``m`` (non-contiguous), and extension beats advancing
      when one row matches both Q and the next stage; once ``>= n``
      Q-rows are held, the first next-stage-AND-NOT-Q row advances; after
      the ``m``-th, ANY next-stage row does;
    - ``within t`` evicts exactly as the row loop does (candidate beyond
      the window stays uncaptured; survivors need the window to reach
      past the newest row);
    - pending partials serialize with ``pos`` = the last stage holding a
      capture, byte-equal to ``_run_nfa`` and resumable by either engine
      across micro-batches (pinned by tests/test_kernel2_unit.py).

    One ``searchsorted`` per plain stage plus two per quant completion
    boundary, vectorized across every live partial."""
    import numpy as np

    k = len(masks)
    n_rows = len(ts_vals)
    BIG = np.int64(n_rows)
    qset = {q[0]: (q[1], q[2]) for q in quants}
    if init is not None:
        pend = init["partials"]
        started = bool(init["started"])
    else:
        pend, started = [], False
    n_pend = len(pend)
    new_arm = (np.nonzero(masks[0][start_idx:])[0] + start_idx).astype(np.int64)
    n_new = len(new_arm)
    n_all = n_pend + n_new
    if not n_all:
        return [], {
            "partials": [], "spawners": [],
            "started": started, "done": False,
        }
    first_ts = np.concatenate([
        np.asarray([int(p["first_ts"]) for p in pend], dtype=np.int64),
        ts_vals[new_arm] if n_new else np.empty(0, dtype=np.int64),
    ])
    # cap[s, i] = buffer position captured for PLAIN stage s by partial i
    # (-1 = not captured); each quant stage's captures live in its
    # ``prior`` lists (resumed runs) + a contiguous slice of its matching
    # rows (this batch's greedy extension), materialized lazily.
    cap = np.full((k, n_all), -1, dtype=np.int64)
    qst = {
        qpos: {"prior": [[] for _ in range(n_all)]}
        for qpos in qset
    }
    for i, p in enumerate(pend):
        for s, caps in enumerate(p["captured"]):
            if s in qset:
                qst[s]["prior"][i] = [int(x) for x in caps]
            elif caps:
                cap[s, i] = int(caps[0])
    if n_new:
        if 0 in qset:
            pr = qst[0]["prior"]
            for j in range(n_new):
                pr[n_pend + j] = [int(new_arm[j])]
        else:
            cap[0, n_pend:] = new_arm
    for qpos in qset:
        st = qst[qpos]
        st["c0"] = np.asarray(
            [len(c) for c in st["prior"]], dtype=np.int64
        )
        st["new"] = (
            np.nonzero(masks[qpos][start_idx:])[0] + start_idx
        ).astype(np.int64)
        st["last"] = np.asarray(
            [c[-1] if c else -1 for c in st["prior"]], dtype=np.int64
        )

    def _race(s, qpos):
        """Capture PLAIN stage s for partials at quant stage ``qpos`` =
        s-1: the quant completion-boundary race (extension beats
        advancing below m; >= n then first s-and-not-q row; past the m-th
        q-row any s-row)."""
        st = qst[qpos]
        min_count, max_count = qset[qpos]
        new_q, c0 = st["new"], st["c0"]
        if qpos > 0:
            base = np.where(c0 > 0, st["last"], cap[qpos - 1])
        else:
            base = st["last"]
        active = base >= 0  # reached the quant stage
        nxt = np.searchsorted(new_q, np.where(active, base, -1),
                              side="right")
        st["base"], st["active"], st["nxt"] = base, active, nxt

        def _boundary(target):
            need = target - c0
            if len(new_q):
                idx = nxt + need - 1
                hit = active & (need > 0) & (idx < len(new_q))
                pos = np.where(
                    hit, new_q[np.clip(idx, 0, len(new_q) - 1)], BIG
                )
            else:
                pos = np.full(n_all, BIG, dtype=np.int64)
            return np.where(active & (need <= 0), base, pos)

        rmin = _boundary(np.int64(min_count))
        if max_count is None:
            rmax = np.full(n_all, BIG, dtype=np.int64)
        else:
            rmax = _boundary(np.int64(max_count))
        race = active & (cap[s] < 0)  # resumed past s skip the race
        c_only = (
            np.nonzero(
                (np.asarray(masks[s]) & ~np.asarray(masks[qpos]))[start_idx:]
            )[0] + start_idx
        ).astype(np.int64)
        c_any = (
            np.nonzero(masks[s][start_idx:])[0] + start_idx
        ).astype(np.int64)
        if len(c_only):
            i1 = np.searchsorted(c_only, rmin, side="right")
            j1 = np.where(i1 < len(c_only),
                          c_only[np.minimum(i1, len(c_only) - 1)], BIG)
            j1 = np.where((rmin < BIG) & (j1 < rmax), j1, BIG)
        else:
            j1 = np.full(n_all, BIG, dtype=np.int64)
        if len(c_any):
            i2 = np.searchsorted(c_any, rmax, side="right")
            j2 = np.where((rmax < BIG) & (i2 < len(c_any)),
                          c_any[np.minimum(i2, len(c_any) - 1)], BIG)
        else:
            j2 = np.full(n_all, BIG, dtype=np.int64)
        jb = np.where(race, np.minimum(j1, j2), BIG)
        okc = jb < BIG
        if within_ms is not None:
            safe = np.where(okc, jb, 0)
            okc &= (ts_vals[safe] - first_ts) <= within_ms
        cap[s] = np.where(okc, jb, cap[s])

    for s in range(1, k):
        if s in qset:
            continue  # quant captures are implicit (prior + new_q slice)
        if (s - 1) in qset:
            _race(s, s - 1)
        else:
            _fill_stage(ts_vals, masks[s], cap, s, first_ts, start_idx,
                        within_ms)

    def _qcaps(i, qpos):
        """Quant-stage captures of partial i: prior runs + this batch's
        contiguous slice, stopping at the following stage's capture (race
        close) and at ``m`` total."""
        st = qst[qpos]
        if not st["active"][i]:
            return list(st["prior"][i])
        nxt, new_q = st["nxt"], st["new"]
        max_count = qset[qpos][1]
        upto = int(cap[qpos + 1, i]) if cap[qpos + 1, i] >= 0 else int(BIG)
        room = (
            (max_count - int(st["c0"][i])) if max_count is not None
            else len(new_q)
        )
        cnt = int(min(np.searchsorted(new_q, upto) - nxt[i], room))
        caps = list(st["prior"][i])
        if cnt > 0:
            caps += [int(x) for x in new_q[nxt[i]:nxt[i] + cnt]]
        return caps

    ok = cap[k - 1] >= 0
    matches: list = []
    oi = np.nonzero(ok)[0]
    if len(oi):
        # emission order mirrors the row loop: by completing row, then by
        # pool (arming) order — resumed partials first, then fresh arms
        order = np.lexsort((oi, cap[k - 1][oi]))
        for i in oi[order]:
            matches.append([
                _qcaps(int(i), s) if s in qset else [int(cap[s, i])]
                for s in range(k)
            ])
    keep = ~ok
    if within_ms is not None and n_rows:
        # the row loop drops a partial at the first row beyond its window,
        # whatever that row's type
        keep &= (int(ts_vals[-1]) - first_ts) <= within_ms
    partials = []
    for i in np.nonzero(keep)[0]:
        caps_full = [
            _qcaps(int(i), s) if s in qset
            else ([int(cap[s, i])] if cap[s, i] >= 0 else [])
            for s in range(k)
        ]
        filled = max(s for s in range(k) if caps_full[s])
        last_pos = caps_full[filled][-1]
        partials.append({
            "pos": filled,  # the row loop's lazy advance
            "captured": caps_full,
            "first_ts": int(first_ts[i]),
            "last_ts": (
                int(ts_vals[last_pos]) if last_pos >= start_idx
                else pend[i]["last_ts"]  # no new capture: keep stored ts
            ),
            "neg_deadline": None,
        })
    return matches, {
        "partials": partials,
        "spawners": [],
        "started": started or bool(n_all),
        "done": False,
    }


def run_kernel_chain_nonevery(
    ts_vals,
    masks: list,
    start_idx: int,
    init: dict | None,
    within_ms: int | None,
    strict_after: list | None = None,
):
    """Vectorized NFA for ``e1=A1 (->|,) ... (->|,) ek=Ak [within t]``
    WITHOUT ``every``, any k >= 2 — the arm-once first-attempt contract
    (PARITY.md, the round-7 fuzz-found semantics): the single partial
    arms at the FIRST A1-match ever and fills its stages per
    :func:`_fill_stage`; if a strict connector breaks or the
    within-window closes before the chain completes there is NO match
    ever (dead: empty partials, ``started`` stays True so nothing
    re-arms). At most one match per key, then ``done``.

    :func:`run_kernel_chain`'s fill over a single partial; state
    byte-equal to ``_run_nfa`` (tests/test_kernel2_unit.py)."""
    import numpy as np

    k = len(masks)
    n = len(ts_vals)
    strict = strict_after or [False] * (k - 1)
    if init is not None:
        started = bool(init["started"])
        done = bool(init["done"])
        parts = init["partials"]
    else:
        started, done, parts = False, False, []

    def _state(partials, started, done):
        return {
            "partials": partials, "spawners": [],
            "started": started, "done": done,
        }

    if done:
        return [], _state([dict(p) for p in parts], started, True)
    if parts:
        caps = [int(c[0]) if c else -1 for c in parts[0]["captured"]]
        fa = int(parts[0]["first_ts"])
    elif started:
        # dead: the first attempt already failed — no match ever
        return [], _state([], True, False)
    else:
        new_a = np.nonzero(masks[0][start_idx:])[0]
        if not len(new_a):
            return [], _state([], False, False)
        caps = [int(new_a[0]) + start_idx] + [-1] * (k - 1)
        fa = int(ts_vals[caps[0]])
    cap = np.asarray(caps, dtype=np.int64).reshape(k, 1)
    first_ts = np.asarray([fa], dtype=np.int64)
    dead = np.zeros(1, dtype=bool)
    for s in range(1, k):
        _fill_stage(ts_vals, masks[s], cap, s, first_ts, start_idx,
                    within_ms, strict[s - 1], dead)
    caps = [int(c) for c in cap[:, 0]]
    if caps[-1] >= 0:
        return [[[c] for c in caps]], _state([], True, True)
    # incomplete: a strict breaker, or the window closing on the buffer
    # tail, kills the attempt
    if dead[0] or (
        within_ms is not None and n and int(ts_vals[-1]) - fa > within_ms
    ):
        return [], _state([], True, False)
    filled = sum(1 for c in caps if c >= 0)
    pend = [{
        "pos": filled - 1,  # the row loop's lazy advance
        "captured": [[c] if c >= 0 else [] for c in caps],
        "first_ts": fa,
        "last_ts": int(ts_vals[caps[filled - 1]]),
        "neg_deadline": None,
    }]
    return [], _state(pend, True, False)


def run_kernel_chain_absence(
    ts_vals,
    masks: list,
    start_idx: int,
    init: dict | None,
    within_ms: int | None,
    for_ms: int,
):
    """Vectorized NFA for ``every e1=A1 -> ... -> e(k-1)=A(k-1) ->
    not Ak for t``, any k >= 2 — ``every a -> not b for t`` (k = 2) and
    the funnel-ABANDONMENT shape (started the chain, then the final event
    did NOT happen within ``t``). Exact ``_run_nfa`` (``at_close=False``)
    semantics:

    - positive stages capture per :func:`_fill_stage`, relaxed
      (``within`` gates every capture; an armed-absence partial is never
      window-evicted — its captured span is already frozen, the round-8
      `_needs_capture` contract);
    - once the last positive stage captures at row b (ts_b), the absence
      arms with deadline ``ts_b + for_ms``: an Ak-row at ``ts <=
      deadline`` kills the partial; the first row (of ANY kind) with
      ``ts > deadline`` confirms and emits — streaming never emits at a
      micro-batch boundary, so confirmation always needs a later event;
    - pending state: chain-stage partials at ``pos`` j-1, armed-absence
      partials at ``pos`` k-1 with ``neg_deadline`` set once any row
      after the arming capture was processed (the row loop's lazy
      advance), byte-equal to ``_run_nfa``.

    Per armed partial, the outcome is whichever comes first of the
    killing Ak-row and the confirming row — two ``searchsorted``s over
    the sorted buffer, vectorized across partials. Streaming-only: batch
    absence semantics additionally confirm at stream close
    (``at_close=True``), so :func:`run_shape` sends batch to the general
    NFA for this shape."""
    import numpy as np

    k = len(masks)  # includes the negated final element
    kp = k - 1      # positive stages
    n = len(ts_vals)
    big = np.int64(n)
    if init is not None:
        pend = init["partials"]
        pend_ats = [int(p["first_ts"]) for p in pend]
        pend_caps = [
            [int(c[0]) if c else -1 for c in p["captured"][:kp]]
            for p in pend
        ]
        pend_armed = [int(p["pos"]) == kp for p in pend]
        started = bool(init["started"])
    else:
        pend_ats, pend_caps, pend_armed, started = [], [], [], False
    new_a = (np.nonzero(masks[0][start_idx:])[0] + start_idx).astype(np.int64)
    n_pend = len(pend_caps)
    n_a = n_pend + len(new_a)
    if not n_a:
        return [], {
            "partials": [], "spawners": [],
            "started": started, "done": False,
        }
    a_ts = np.concatenate(
        [np.asarray(pend_ats, dtype=np.int64), ts_vals[new_a]]
    )
    cap = np.full((kp, n_a), -1, dtype=np.int64)
    for i, caps in enumerate(pend_caps):
        for s, c in enumerate(caps):
            cap[s, i] = c
    cap[0, n_pend:] = new_a
    # was the partial already at the armed-absence stage when resumed?
    was_armed = np.zeros(n_a, dtype=bool)
    was_armed[:n_pend] = np.asarray(pend_armed, dtype=bool)
    for s in range(1, kp):
        _fill_stage(ts_vals, masks[s], cap, s, a_ts, start_idx, within_ms)
    armed = cap[kp - 1] >= 0
    last_pos = cap[kp - 1]
    # absence resolution, from the arming row: first row each armed partial gets to see — resumed armed partials
    # scan from start_idx, newly-armed from the row after their capture
    safe_last = np.where(armed, last_pos, 0)
    deadline = ts_vals[safe_last] + for_ms
    lo = np.where(
        was_armed, np.int64(start_idx),
        np.maximum(safe_last + 1, start_idx),
    )
    # jc: first row with ts > deadline (confirms the absence)
    jc = np.searchsorted(ts_vals, deadline, side="right")
    jc = np.maximum(jc, lo)
    jc = np.where(jc < n, jc, big)
    # jk: first Ak-row at position >= lo with ts <= deadline (kills)
    neg_pos = np.nonzero(masks[k - 1])[0].astype(np.int64)
    if len(neg_pos):
        bi = np.searchsorted(neg_pos, lo, side="left")
        has_b = bi < len(neg_pos)
        candk = neg_pos[np.minimum(bi, len(neg_pos) - 1)]
        kill_ok = has_b & (
            ts_vals[np.where(has_b, candk, 0)] <= deadline
        )
        jk = np.where(kill_ok, candk, big)
    else:
        jk = np.full(n_a, big)
    match_ok = armed & (jc < big) & (jk == big)
    waiting = armed & (jc == big) & (jk == big)
    matches: list = []
    oi = np.nonzero(match_ok)[0]
    if len(oi):
        # emission order mirrors the row loop: by confirming row, then
        # by partial age
        order = np.lexsort((oi, jc[oi]))
        for i in oi[order]:
            matches.append(
                [[int(cap[s, i])] for s in range(kp)] + [[]]
            )
    # survivors: chain-stage partials still inside the window, plus
    # armed-absence partials with no kill/confirm yet (never
    # window-evicted — their captures are frozen)
    chain_keep = ~armed & (cap[0] >= 0)
    if within_ms is not None and n:
        chain_keep &= (int(ts_vals[-1]) - a_ts) <= within_ms
    partials = []
    for i in np.nonzero(chain_keep | waiting)[0]:
        filled = int(np.count_nonzero(cap[:, i] >= 0))
        if waiting[i]:
            # armed: pos advances to the absence step (deadline set) as
            # soon as ANY row after the arming was processed — the row
            # loop's lazy advance
            seen_row = lo[i] < n or was_armed[i]
            pos = kp if seen_row else kp - 1
            nd = int(deadline[i]) if seen_row else None
        else:
            pos = filled - 1
            nd = None
        partials.append({
            "pos": pos,
            "captured": [
                [int(cap[s, i])] if cap[s, i] >= 0 else []
                for s in range(kp)
            ] + [[]],
            "first_ts": int(a_ts[i]),
            "last_ts": int(ts_vals[cap[filled - 1, i]]),
            "neg_deadline": nd,
        })
    return matches, {
        "partials": partials,
        "spawners": [],
        "started": started or bool(n_a),
        "done": False,
    }


def validate_every_at(p: "A.PatternInput") -> None:
    """Mid-pattern 'every' prefix restrictions: every step before the mark
    must complete at a single well-defined event (plain single elements or
    and/or groups — no optionals, collections, or negations), so "prefix
    complete" is unambiguous and the spawner freeze point is exact."""
    if p.every_at is None:
        return
    if not (0 < p.every_at < len(p.elems)):
        raise SiddhiPlannerException("mid-pattern 'every' position out of range")
    for st in p.elems[: p.every_at]:
        es = st.elems if isinstance(st, A.PatternGroup) else [st]
        for e in es:
            if e.negated or e.is_collection or e.min_count != 1:
                raise UnsupportedFeatureException(
                    "steps before a mid-pattern 'every' must be plain single "
                    "elements (no quantifiers, optionals, or 'not')"
                )


def quiescent_deadline(d: dict, steps: list[_Step]) -> int | None:
    """Event-time ms past which this serialized partial's TRAILING ABSENCE
    confirms with no further events, or ``None`` when confirmation still
    needs a data event.

    Siddhi fires ``A -> not B for t`` from its scheduler when the key's
    stream goes quiescent; in this engine the streaming operator arms an
    event-time timer at this deadline and the WATERMARK is the clock
    (round 10, VERDICT r9 ask #1). A deadline exists when every remaining
    step is a timed absence (``not X for t``) or an optional (which closes
    empty, as batch ``at_close`` does), with at least one absence; the
    deadline chains the remaining ``for_ms`` spans exactly as ``_step``
    arms them (base = last captured row's ts). Confirmation at watermark
    ``wm > deadline`` is sound: late rows at or below the watermark are
    dropped upstream, so no future event can kill the guard."""
    p = _partial_from_dict(d)
    if p.first_ts is None or not any(p.captured):
        return None
    st = steps[p.pos]
    saw_neg = False
    if st.elem.negated:
        if st.elem.for_ms is None:
            return None  # bare 'not X': only a next-step event resolves it
        if p.neg_deadline is not None:
            cur = p.neg_deadline
        else:
            base = p.last_ts if p.last_ts is not None else p.first_ts
            cur = base + st.elem.for_ms
        saw_neg = True
    else:
        if not _step_satisfied(p, st):
            return None
        cur = p.last_ts if p.last_ts is not None else p.first_ts
    for j in range(p.pos + 1, len(steps)):
        sj = steps[j]
        if sj.elem.negated:
            if sj.elem.for_ms is None:
                return None
            cur += sj.elem.for_ms
            saw_neg = True
        elif _step_optional(sj):
            continue  # closes empty at confirmation, as at_close does
        else:
            return None  # a required capture remains: needs a data event
    return cur if saw_neg else None


def quiescent_confirm(nfa_st: dict, steps: list[_Step], wm: int, multi: bool):
    """Confirm every serialized partial whose quiescent deadline the
    watermark has passed (timer-fired absence, round 10 — Siddhi scheduler
    parity; the reference's engine schedules these in
    ``io.siddhi`` AbsentLogicalPreStateProcessor, outside the thin shim at
    /root/reference/core/src/main/java/.../AbstractSiddhiOperator.java).

    Returns ``(matches, new_st, pending)``: ``matches`` in deadline order
    (then arming order) in the engines' capture format; ``new_st`` with the
    confirmed partials removed (arm-once patterns seal at the first
    confirmation, matching the engines' ``done`` contract); ``pending`` the
    earliest still-unpassed deadline to re-arm the timer at, or None."""
    done = nfa_st["done"]
    parts = nfa_st["partials"]
    if done and not multi:
        return [], nfa_st, None
    dls = [quiescent_deadline(d, steps) for d in parts]
    due = sorted(
        (dl, i) for i, dl in enumerate(dls) if dl is not None and wm > dl
    )
    if not due:
        pend = min((dl for dl in dls if dl is not None), default=None)
        return [], nfa_st, pend
    matches, dropped = [], set()
    for dl, i in due:
        matches.append([list(c) for c in parts[i]["captured"]])
        dropped.add(i)
        if not multi:
            done = True
            break
    kept = [d for i, d in enumerate(parts) if i not in dropped]
    pend = None
    if not (done and not multi):
        pend = min(
            (dl for i, dl in enumerate(dls)
             if dl is not None and i not in dropped),
            default=None,
        )
    new_st = {
        "partials": kept,
        "spawners": nfa_st["spawners"],
        "started": nfa_st["started"],
        "done": done,
    }
    return matches, new_st, pend


def _can_close(p: _Partial, steps: list[_Step]) -> bool:
    st = steps[p.pos]
    if not st.elem.negated and not _step_satisfied(p, st):
        return False
    for j in range(p.pos + 1, len(steps)):
        sj = steps[j]
        if not sj.elem.negated and not (_step_optional(sj)):
            return False
    return any(p.captured)


def _needs_capture(p: _Partial, steps: list[_Step]) -> bool:
    """True if completing this partial still requires CAPTURING at least one
    more (non-negated) event. Siddhi's ``within`` constrains the span of the
    MATCHED events, not the event that merely confirms a trailing absence —
    so the window can only evict a partial while a required capture remains
    (a pure absence-confirmation wait has its captured span already frozen
    inside the window; the batch fast path encodes the same contract)."""
    st = steps[p.pos]
    if not st.elem.negated and not _step_satisfied(p, st):
        return True
    for j in range(p.pos + 1, len(steps)):
        sj = steps[j]
        if not sj.elem.negated and not _step_optional(sj):
            return True
    return False


def _step(p: _Partial, i: int, ts: int, steps: list[_Step], masks, strict_after,
          no_capture: bool = False) -> str:
    """Try to consume row i with partial p. Returns consumed|completed|kept|died.

    ``no_capture``: the row sits beyond the partial's within-window — it may
    still kill a guarded absence, pass a deadline, or complete the pattern,
    but it must not be CAPTURED (``within`` bounds matched events only)."""
    n = len(steps)
    pos = p.pos
    st = steps[pos]
    e = st.elem
    # negated guard element at current position
    if e.negated:
        deadline = p.neg_deadline
        if bool(masks[st.flat[0]][i]) and (deadline is None or ts <= deadline):
            return "died"
        if deadline is not None and ts > deadline:
            p.pos += 1
            p.neg_deadline = None
            if p.pos >= n:
                return "completed"
            return _step(p, i, ts, steps, masks, strict_after, no_capture)
        if deadline is None:
            # 'not A -> B': guard holds while waiting; try next step
            j = pos + 1
            if j < n and not steps[j].elem.negated and not no_capture:
                nf = _group_match(p, steps[j], masks, i)
                if nf is not None:
                    p.pos = j
                    p.captured[nf].append(i)
                    return "consumed"
            return "kept"
        return "kept"
    # (a) extend/fill the current step
    f = None if no_capture else _extend_match(p, st, masks, i)
    if f is not None:
        p.captured[f].append(i)
        return "consumed"
    # (b) advance if the current step is satisfied
    if _step_satisfied(p, st):
        j = pos + 1
        while j < n:
            sj = steps[j]
            if sj.elem.negated:
                if bool(masks[sj.flat[0]][i]) and sj.elem.for_ms is None:
                    return "died"
                if sj.elem.for_ms is not None:
                    # deadline arms from the last captured event's ts (the
                    # event that completed the preceding step); a partial that
                    # captured nothing yet arms from the current event.
                    p.pos = j
                    base = p.last_ts if p.last_ts is not None else ts
                    p.neg_deadline = base + sj.elem.for_ms
                    return _step(p, i, ts, steps, masks, strict_after,
                                 no_capture)
                j += 1
                continue
            nf = None if no_capture else _group_match(p, sj, masks, i)
            if nf is not None:
                p.pos = j
                p.captured[nf].append(i)
                return "consumed"
            if _step_optional(sj):
                j += 1
                continue
            break
        if j >= n:
            return "completed"
    # (c) not consumed: strictness decides survival
    any_cap = any(p.captured[k] for k in st.flat)
    if not any_cap and pos > 0:
        strict = strict_after[pos - 1]
    elif any_cap and pos < n - 1:
        strict = strict_after[pos]
    else:
        strict = False  # trailing collection / first step
    if strict:
        return "died"
    return "kept"


def _extend_match(p: _Partial, st: _Step, masks, i: int):
    """Flat index this event can capture into within the current step, or None."""
    if st.op == "single":
        f = st.flat[0]
        e = st.elem
        if (e.max_count is None or len(p.captured[f]) < e.max_count) and bool(masks[f][i]):
            return f
        return None
    if st.op == "and":
        for f in st.flat:
            if not p.captured[f] and bool(masks[f][i]):
                return f
        return None
    # or: first capture wins, then the step is closed
    if any(p.captured[f] for f in st.flat):
        return None
    for f in st.flat:
        if bool(masks[f][i]):
            return f
    return None


def _group_match(p: _Partial, st: _Step, masks, i: int):
    """Flat index for starting step ``st`` with event i, or None."""
    if st.op == "single":
        f = st.flat[0]
        return f if bool(masks[f][i]) else None
    for f in st.flat:
        if bool(masks[f][i]):
            return f
    return None


def _try_fast_path(planner, q: A.Query, u: DataFrame, elems, strict_after,
                   schemas, col_of, field_names, collection, sort_cols):
    """JVM-side (Catalyst window-function) lowering for the common 2-element
    patterns — no Python in the hot path, scales like any windowed query:

    - ``[every] a=A[pa] -> b=B[pb] [within t]``: first pb-match after each
      pa-match per key = one row_number + one frame-min + one self-join.
    - ``a=A[pa] -> not B[pb] for t`` (absence): same machinery, emit when the
      next pb-match is absent or beyond the deadline.
    - ``[every] a=A[pa] , b=B[pb]`` (strict): lag() over the full per-key feed.

    Returns the match table or None if the shape needs the general NFA.
    """
    from pyspark.sql.window import Window
    from ..plans.expr import ExprCompiler

    p: A.PatternInput = q.input
    if len(elems) != 2:
        return None
    a, b = elems
    if a.negated or a.is_collection or a.min_count != 1 or b.is_collection:
        return None
    if b.negated and (strict_after[0] or b.for_ms is None):
        return None
    if not b.negated and (b.min_count != 1):
        return None

    def match_col(e: A.PatternElem) -> Column:
        comp = ExprCompiler(
            planner._plain_resolver(set(u.columns), {e.stream}), planner.extensions
        )
        c = F.col(STREAM_COL) == e.stream
        if e.filter is not None:
            c = c & comp.compile(e.filter)
        return c

    is_a, is_b = match_col(a), match_col(b)
    wp = Window.partitionBy(PK_COL).orderBy(*[F.col(c) for c in sort_cols])

    if strict_after[0]:
        # strict sequence over the FULL feed: previous row must be the a-match
        lagged = u.withColumn("__cur_b", is_b).withColumn("__prev_a", F.lag(is_a).over(wp))
        for fname in field_names[a.alias]:
            lagged = lagged.withColumn(col_of[(a.alias, fname)], F.lag(F.col(fname)).over(wp))
        matches = lagged.filter(F.col("__cur_b") & F.col("__prev_a"))
        if not p.every:
            # PARITY.md contract (and the general NFA): without `every` the
            # single partial arms at the FIRST a-match per key; if its
            # immediate successor is not a b-match the sequence is dead — it
            # does NOT re-arm at the next successful pair (round-7 property
            # fuzz caught the old first-successful-match pick diverging from
            # the NFA on feeds like x,x,y)
            lagged2 = lagged.withColumn("__pos", F.row_number().over(wp))
            lagged2 = lagged2.withColumn(
                "__first_a",
                F.min(F.when(is_a, F.col("__pos"))).over(
                    Window.partitionBy(PK_COL).rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
            )
            matches = lagged2.filter(
                F.col("__cur_b") & F.col("__prev_a")
                & (F.col("__pos") - 1 == F.col("__first_a"))
            )
        out_cols = [F.col(col_of[(a.alias, f)]) for f in field_names[a.alias]]
        out_cols += [F.col(f).alias(col_of[(b.alias, f)]) for f in field_names[b.alias]]
        return matches.select(*out_cols)

    # relaxed '->': candidate rows only (predicate pushed to the scan)
    cand = u.filter(is_a | is_b).withColumn("__is_a", is_a).withColumn("__is_b", is_b)
    cand = cand.withColumn("__pos", F.row_number().over(wp))
    cand = cand.withColumn("__bpos", F.when(F.col("__is_b"), F.col("__pos")))
    cand = cand.withColumn(
        "__next_b",
        F.min(F.col("__bpos")).over(wp.rowsBetween(1, Window.unboundedFollowing)),
    )
    a_rows = cand.filter(F.col("__is_a"))
    if not p.every:
        wa = Window.partitionBy(PK_COL).orderBy(*[F.col(c) for c in sort_cols])
        a_rows = a_rows.withColumn("__ar", F.row_number().over(wa)).filter(F.col("__ar") == 1)
    a_sel = a_rows.select(
        F.col(PK_COL), F.col(TS_COL).alias("__a_ts"), F.col("__next_b"),
        F.col("__pos").alias("__a_pos"),
        *[F.col(f).alias(col_of[(a.alias, f)]) for f in field_names[a.alias]],
    )
    if b.negated:
        # absence: no b-match within (a_ts, a_ts + for_ms]
        b_sel = cand.filter(F.col("__is_b")).select(
            F.col(PK_COL).alias("__bpk"), F.col("__pos").alias("__bpos2"),
            F.col(TS_COL).alias("__b_ts"),
        )
        joined = a_sel.join(
            b_sel,
            (F.col(PK_COL) == F.col("__bpk")) & (F.col("__next_b") == F.col("__bpos2")),
            "left",
        )
        absent = joined.filter(
            F.col("__b_ts").isNull() | (F.col("__b_ts") - F.col("__a_ts") > F.lit(b.for_ms))
        )
        return absent.select(*[col_of[(a.alias, f)] for f in field_names[a.alias]])
    b_sel = cand.filter(F.col("__is_b")).select(
        F.col(PK_COL).alias("__bpk"), F.col("__pos").alias("__bpos2"),
        F.col(TS_COL).alias("__b_ts"),
        *[F.col(f).alias(col_of[(b.alias, f)]) for f in field_names[b.alias]],
    )
    if p.every_at is not None:
        # 'a -> every b': pair a with EVERY later b (suffix restarts per b),
        # not just the first — per-key equi-join + position inequality. Match
        # fan-out is the semantic output size (each pair IS a result row),
        # within_ms bounds it in practice.
        b_cond = F.col("__bpos2") > F.col("__a_pos")
    else:
        b_cond = F.col("__next_b") == F.col("__bpos2")
    joined = a_sel.join(
        b_sel, (F.col(PK_COL) == F.col("__bpk")) & b_cond, "inner",
    )
    if p.within_ms is not None:
        joined = joined.filter(F.col("__b_ts") - F.col("__a_ts") <= F.lit(p.within_ms))
    keep = [col_of[(a.alias, f)] for f in field_names[a.alias]]
    keep += [col_of[(b.alias, f)] for f in field_names[b.alias]]
    return joined.select(*keep)


def compile_pattern(planner, q: A.Query):
    """Compile a pattern query input. Returns (df, resolver, fields)."""
    p: A.PatternInput = q.input
    validate_every_at(p)
    raw_steps = p.elems
    # validate + flatten and/or groups; NFA captures are per FLAT element
    _, elems = normalize_steps(raw_steps)
    has_group = len(elems) != len(raw_steps)
    # assign aliases (flat elems share object identity with raw_steps' elems)
    used = set()
    for i, e in enumerate(elems):
        if e.alias is None:
            e.alias = e.stream if e.stream not in used else f"e{i}"
        used.add(e.alias)
    strict_after = [c == "," for c in p.connectors]

    streams = []
    for e in elems:
        if e.stream not in streams:
            streams.append(e.stream)
    schemas = {s: planner.stream_schema(s) for s in streams}
    dfs = {}
    for s in streams:
        df, sch = planner.stream_df(s)
        if sch.ts_field is None:
            raise SiddhiPlannerException(f"pattern stream '{s}' needs a ts_field")
        dfs[s] = df

    # union-by-name with nulls for missing columns
    union_fields: list[tuple[str, T.DataType]] = []
    seen: dict[str, T.DataType] = {}
    for s in streams:
        for f in dfs[s].schema.fields:
            if f.name == TS_COL:
                continue
            if f.name in seen:
                if seen[f.name] != f.dataType:
                    raise SiddhiPlannerException(
                        f"conflicting types for '{f.name}' across pattern streams"
                    )
            else:
                seen[f.name] = f.dataType
                union_fields.append((f.name, f.dataType))

    parts = []
    for s in streams:
        have = set(dfs[s].columns)
        cols = [F.lit(s).alias(STREAM_COL), F.col(TS_COL)]
        for name, dtype in union_fields:
            cols.append(F.col(name) if name in have else F.lit(None).cast(dtype).alias(name))
        parts.append(dfs[s].select(*cols))
    u = parts[0]
    for part in parts[1:]:
        u = u.unionByName(part)

    # partition key
    pk = q.partition_by or {}
    if pk:
        cases = None
        for s in streams:
            attr = pk.get(s)
            if attr is None:
                raise SiddhiPlannerException(f"partition with: missing key for stream '{s}'")
            branch = F.col(attr)
            cases = branch if cases is None else F.when(F.col(STREAM_COL) == s, F.col(attr)).otherwise(cases)
        u = u.withColumn(PK_COL, cases if len(streams) > 1 else F.col(pk[streams[0]]))
    else:
        from .windows import warn_global_order

        warn_global_order("un-partitioned pattern matching")
        u = u.withColumn(PK_COL, F.lit(0))

    # output schema: per element x per field of its stream
    out_fields: list[T.StructField] = []
    col_of: dict[tuple[str, str], str] = {}
    for e in elems:
        if e.negated:
            continue
        sch = schemas[e.stream]
        for fname in sch.fields:
            dtype = dict((f.name, f.dataType) for f in sch.df.schema.fields)[fname]
            out_name = f"{e.alias}__{fname}"
            col_of[(e.alias, fname)] = out_name
            out_fields.append(
                T.StructField(
                    out_name,
                    T.ArrayType(dtype) if e.is_collection else dtype,
                    True,
                )
            )
    out_schema = T.StructType(out_fields)

    sort_cols = [TS_COL] + [n for n, _ in union_fields]
    elems_c = elems
    raw_steps_c = raw_steps
    every = p.every
    every_at = p.every_at
    within_ms = p.within_ms
    field_names = {e.alias: schemas[e.stream].fields for e in elems if not e.negated}
    collection = {e.alias: e.is_collection for e in elems if not e.negated}
    filters = [(e.stream, e.filter) for e in elems]
    out_names = [f.name for f in out_fields]

    # absence fast path needs the negated elem's name mapping for nothing —
    # but the 2-element JVM lowering needs field names for both real elems
    fp_field_names = dict(field_names)
    for e in elems:
        if e.negated:
            fp_field_names.setdefault(e.alias, schemas[e.stream].fields)
    fast = None if has_group else _try_fast_path(
        planner, q, u, elems, strict_after, schemas, col_of, fp_field_names,
        collection, sort_cols,
    )
    if fast is None:
        # general NFA path: pure '->' patterns without negation only ever look
        # at events matching some element — push the disjunction to the scan.
        relaxed_only = all(not s for s in strict_after) and not any(e.negated for e in elems)
        if relaxed_only:
            from ..plans.expr import ExprCompiler

            disj = None
            for e in elems:
                comp = ExprCompiler(
                    planner._plain_resolver(set(u.columns), {e.stream}), planner.extensions
                )
                c = (F.col(STREAM_COL) == e.stream) & (
                    comp.compile(e.filter) if e.filter is not None else F.lit(True)
                )
                disj = c if disj is None else (disj | c)
            u = u.filter(disj)

    # the numpy kernels replace the per-row loop in batch too: their
    # matches are pinned equal to _run_nfa's, and ``at_close`` is a no-op
    # for the chain, plain-chain and quant shapes (a required final capture,
    # so _can_close never fires); run_shape sends the absence shapes, which
    # close-confirm, to the general NFA. Most 2-step shapes take the JVM
    # fast path above before reaching here.
    batch_shape = (
        None if has_group
        else kernel2_shape(elems_c, every, every_at, strict_after)
    )

    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        masks = []
        for stream, filt in filters:
            m = (pdf[STREAM_COL] == stream).to_numpy()
            if filt is not None:
                fv = _vec(filt, pdf)
                m = m & fv.to_numpy(dtype=bool, na_value=False) if hasattr(fv, "to_numpy") else (m & bool(fv))
            masks.append(m)
        found, _ = run_shape(
            batch_shape, pdf[TS_COL].to_numpy(), masks, raw_steps_c,
            strict_after, every, within_ms, every_at=every_at, at_close=True,
        )
        data: dict[str, list] = {n: [] for n in out_names}
        for cap in found:
            for ei, e in enumerate(elems_c):
                if e.negated:
                    continue
                idxs = cap[ei]
                for fname in field_names[e.alias]:
                    cname = col_of[(e.alias, fname)]
                    vals = [pdf[fname].iloc[j] for j in idxs]
                    if collection[e.alias]:
                        data[cname].append(vals)
                    else:
                        data[cname].append(vals[0] if vals else None)
        # dtype=object keeps empty/None-bearing columns Arrow-castable (a
        # default-constructed empty frame would be float64 -> timestamp cast error)
        return pd.DataFrame(data, columns=out_names, dtype=object)

    if fast is not None:
        result = fast
    else:
        # EXPLICIT repartition by the partition key (late round 10): AQE's
        # size-based partition coalescing sees a few MB of events and
        # collapses the exchange to 1-2 partitions — but this stage's cost
        # is Python NFA compute per GROUP, not bytes, so coalescing
        # serializes every key through one worker (measured 5.9x on the
        # sf0.1 pattern entries: 10.4s -> 1.8s). AQE leaves user-specified
        # repartitions with an explicit partition count alone, and
        # groupBy on the same key reuses the exchange, so large-cluster
        # plans are unchanged (shuffle.partitions tasks either way).
        n_shuffle = int(u.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"
        ))
        result = (
            u.repartition(n_shuffle, PK_COL)
            .groupBy(PK_COL)
            .applyInPandas(match_group, schema=out_schema)
        )

    # resolver for select over the match table
    singles = [e for e in elems if not e.negated]

    def resolve(ref: A.Ref) -> Column:
        if ref.stream is not None:
            key = (ref.stream, ref.name)
            if key not in col_of:
                raise SiddhiPlannerException(
                    f"unknown pattern reference {ref.stream}.{ref.name}"
                )
            c = F.col(col_of[key])
            if collection.get(ref.stream, False):
                idx = ref.index if ref.index is not None else 0
                # F.get: null past the captured count (Siddhi returns null
                # for an absent indexed binding; ANSI getItem would throw)
                return F.get(c, idx)
            if ref.index is not None:
                raise SiddhiPlannerException(f"{ref.stream} is not a collection")
            return c
        for e in singles:
            if ref.name in field_names[e.alias]:
                c = F.col(col_of[(e.alias, ref.name)])
                return F.get(c, 0) if collection[e.alias] else c
        raise SiddhiPlannerException(f"unknown column '{ref.name}' after pattern")

    return result, resolve, out_names
