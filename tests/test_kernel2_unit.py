"""Pure-python equivalence pin: each numpy pattern kernel — one per stage
kind (``run_kernel_chain``, ``run_kernel_chain_nonevery``,
``run_kernel_chain_quants``, ``run_kernel_chain_absence``) — must produce
EXACTLY the same matches, in emission order, and the same serialized
partial state as the general ``_run_nfa`` row loop, at every k it serves
(the 2-step shapes are its k = 2 case). Each shape is checked in two
forms: one call over a whole feed, and a feed split in two micro-batches
where each engine resumes the OTHER engine's saved state. No
SparkSession: this is the fast diagnosis layer under the end-to-end
streaming parity fuzz."""

import random

import numpy as np
import pandas as pd
import pytest

from flink_siddhi_spark.operators.pattern import (
    TS_COL,
    _run_nfa,
    kernel2_shape,
    run_kernel2,
    run_kernel2_absence,
    run_kernel_chain,
    run_kernel_chain_absence,
    run_kernel_chain_nonevery,
    run_kernel_chain_quants,
    run_shape,
)
from flink_siddhi_spark.siddhiql import ast as A


def _elems(k, quants=(), for_ms=None):
    """k plain elements; ``quants`` ``[(pos, n, m)]`` quantifies some, and
    ``for_ms`` turns the last into ``not X for t``."""
    elems = [A.PatternElem(stream="s", alias=f"e{i}") for i in range(k)]
    for pos, n, m in quants:
        elems[pos] = A.PatternElem(
            stream="s", alias=f"e{pos}", min_count=n, max_count=m
        )
    if for_ms is not None:
        elems[-1] = A.PatternElem(
            stream="s", alias="nx", negated=True, for_ms=for_ms
        )
    return elems


def _state_key_full(st):
    # every serialized field, incl. pos/neg_deadline/started
    return (
        sorted(
            (
                d["pos"], tuple(map(tuple, d["captured"])),
                d["first_ts"], d["last_ts"], d["neg_deadline"],
            )
            for d in st["partials"]
        ),
        st["started"],
        st["done"],
    )


# A drawn case is ``(elems, strict_after, every, within_ms, kernel)`` with
# ``kernel(ts, masks, start_idx, init) -> (matches, state)``.
def _chain(rng, k, withins, strict_p=0.0, every=True):
    """Plain chain: ``run_kernel_chain`` (every) or
    ``run_kernel_chain_nonevery``, each connector strict w.p. strict_p."""
    strict = [rng.random() < strict_p for _ in range(k - 1)]
    within = rng.choice(withins)
    fn = run_kernel_chain if every else run_kernel_chain_nonevery
    return (
        _elems(k), strict, every, within,
        lambda ts, m, s, i: fn(ts, m, s, i, within, strict),
    )


def _absence(rng, k, withins, for_mss):
    within, for_ms = rng.choice(withins), rng.choice(for_mss)
    return (
        _elems(k, for_ms=for_ms), [False] * (k - 1), True, within,
        lambda ts, m, s, i: run_kernel_chain_absence(
            ts, m, s, i, within, for_ms
        ),
    )


def _quant(rng, k, quants, withins):
    within = rng.choice(withins)
    return (
        _elems(k, quants), [False] * (k - 1), True, within,
        lambda ts, m, s, i: run_kernel_chain_quants(
            ts, m, quants, s, i, within
        ),
    )


def _nm(rng, m_over_n):
    """Quantifier bounds: n in 1..3, m = n + one of ``m_over_n`` (None =
    unbounded)."""
    n = rng.randint(1, 3)
    return n, rng.choice([None if d is None else n + d for d in m_over_n])


def _masks(rng, k, n, p):
    ps = p if isinstance(p, list) else [p] * k
    return [
        np.array([rng.random() < ps[s] for _ in range(n)], bool)
        for s in range(k)
    ]


def _oracle(case, ts, masks, start=0, init=None):
    elems, strict, every, within, _ = case
    return _run_nfa(
        pd.DataFrame({TS_COL: ts}), masks, elems, strict, every, within,
        at_close=False, start_idx=start, init=init, return_state=True,
    )


def _fuzz_single(seed, trials, draw, n_max, p):
    """One call over a whole random feed: kernel == ``_run_nfa``, matches
    in exact emission order and full state. Returns the match count."""
    rng = random.Random(seed)
    total = 0
    for trial in range(trials):
        case = draw(rng)
        k = len(case[0])
        n = rng.randint(0, n_max)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(n)], np.int64)
        )
        masks = _masks(rng, k, n, p)
        got_m, got_st = case[4](ts, masks, 0, None)
        want_m, want_st = _oracle(case, ts, masks)
        ctx = (trial, case[1:4], ts.tolist(), [m.tolist() for m in masks])
        assert got_m == want_m, ctx
        assert _state_key_full(got_st) == _state_key_full(want_st), ctx
        total += len(want_m)
    return total


def _fuzz_resume(seed, trials, draw, n_max, p):
    """Batch 1 through each engine, then batch 2 through each engine
    resuming the OTHER's state — the shared partial format must continue
    identically (the streaming path switches engines on out-of-order
    input and per visit size). Returns the match count."""
    rng = random.Random(seed)
    total = 0
    for trial in range(trials):
        case = draw(rng)
        k = len(case[0])
        n1, n2 = rng.randint(1, n_max), rng.randint(1, n_max)
        t1 = np.sort(
            np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64)
        )
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        masks = _masks(rng, k, n1 + n2, p)
        m1 = [m[:n1] for m in masks]
        ctx = (trial, case[1:4], ts.tolist(), [m.tolist() for m in masks])
        k1, k_st = case[4](ts[:n1], m1, 0, None)
        g1, g_st = _oracle(case, ts[:n1], m1)
        assert k1 == g1, ctx
        assert _state_key_full(k_st) == _state_key_full(g_st), ctx
        k2, k_st2 = case[4](ts, masks, n1, g_st)
        g2, g_st2 = _oracle(case, ts, masks, n1, k_st)
        assert k2 == g2, ctx
        assert _state_key_full(k_st2) == _state_key_full(g_st2), ctx
        total += len(g1) + len(g2)
    return total


# ------------------------------------------- plain chains, every (k >= 2)
def test_kernel2_matches_general_nfa_randomized():
    """every2: ``every a (->|,) b [within t]`` on run_kernel_chain, k=2."""
    _fuzz_single(7, 300, lambda r: _chain(r, 2, [None, 550, 1250], 0.4),
                 30, 0.3)


def test_kernel2_state_interops_with_general_nfa():
    _fuzz_resume(21, 150, lambda r: _chain(r, 2, [None, 750], 0.4), 15, 0.35)


def test_kernel3_matches_general_nfa_randomized():
    """``every a -> b -> c [within t]`` on run_kernel_chain, k=3."""
    _fuzz_single(38, 450, lambda r: _chain(r, 3, [None, 550, 1250, 2050]),
                 30, 0.3)


def test_kernel3_state_interops_with_general_nfa():
    """Stage-1 AND stage-2 partials resume across the engine boundary."""
    _fuzz_resume(39, 250, lambda r: _chain(r, 3, [None, 750, 1550]),
                 15, 0.35)


def test_kernel_chain_matches_general_nfa_randomized():
    """The relaxed funnel at k=4 and k=5."""
    _fuzz_single(
        41, 300,
        lambda r: _chain(r, r.choice([4, 5]), [None, 850, 1650, 2850]),
        34, 0.35,
    )


def test_kernel_chain_state_interops_with_general_nfa():
    _fuzz_resume(
        42, 150, lambda r: _chain(r, r.choice([4, 5]), [None, 1050, 2250]),
        15, 0.4,
    )


# ----------------------------------------- plain chains, arm-once (k >= 2)
def test_kernel2_nonevery_matches_general_nfa_randomized():
    """plain2: the arm-once first-attempt contract (the round-7
    fuzz-found shape) on run_kernel_chain_nonevery at k=2, full state
    equality including started/done."""
    _fuzz_single(
        8, 450, lambda r: _chain(r, 2, [None, 550, 1250], 0.4, every=False),
        30, 0.3,
    )


def test_kernel2_nonevery_state_interops_with_general_nfa():
    _fuzz_resume(
        22, 200, lambda r: _chain(r, 2, [None, 750], 0.4, every=False),
        15, 0.35,
    )


def test_kernel_chain_nonevery_matches_general_nfa_randomized():
    """plain_chain at k=3/4, incl. the dead state (failed attempt, no
    re-arm)."""
    _fuzz_single(
        45, 400,
        lambda r: _chain(r, r.choice([3, 4]), [None, 850, 1650], every=False),
        30, 0.35,
    )


def test_kernel_chain_nonevery_state_interops_with_general_nfa():
    _fuzz_resume(
        46, 200,
        lambda r: _chain(r, r.choice([3, 4]), [None, 1050], every=False),
        14, 0.4,
    )


# ------------------------------- strict ',' connectors, k = 2..4, any mix
@pytest.mark.parametrize("every", [True, False])
@pytest.mark.parametrize("k", [2, 3, 4])
def test_chain_strict_connectors_match_general_nfa(k, every):
    """Random per-connector strict flags: the candidate is the row right
    after the previous capture; a failing or out-of-window next row kills
    the partial, a not-yet-arrived one leaves it pending."""
    total = _fuzz_single(
        100 + 10 * k + every, 400,
        lambda r: _chain(r, k, [None, 550, 1250], 0.6, every), 30, 0.5,
    )
    assert total > 0


@pytest.mark.parametrize("every", [True, False])
@pytest.mark.parametrize("k", [2, 3, 4])
def test_chain_strict_connectors_state_interops(k, every):
    """Strict partials pending at the batch boundary resume on the first
    row of the next batch, in either engine."""
    total = _fuzz_resume(
        200 + 10 * k + every, 300,
        lambda r: _chain(r, k, [None, 750, 1550], 0.6, every), 14, 0.5,
    )
    assert total > 0


# --------------------------------------------- absence chains (k >= 2)
def test_kernel2_absence_matches_general_nfa_randomized():
    """absence2: ``every a -> not b for t [within w]`` on
    run_kernel_chain_absence at k=2, incl. pos / neg_deadline."""
    _fuzz_single(
        9, 450,
        lambda r: _absence(r, 2, [None, 550, 1250, 2050], [0, 250, 750, 1500]),
        30, 0.3,
    )


def test_kernel2_absence_state_interops_with_general_nfa():
    _fuzz_resume(
        23, 200, lambda r: _absence(r, 2, [None, 950], [250, 750]),
        15, [0.35, 0.25],
    )


def test_kernel_chain_absence_matches_general_nfa_randomized():
    """chain_absence: ``every A -> B [-> C] -> not X for t [within w]``
    (funnel abandonment) at k=3/4, across chain-stage AND armed-absence
    partials."""
    _fuzz_single(
        43, 400,
        lambda r: _absence(r, r.choice([3, 4]), [None, 850, 1650],
                           [0, 250, 750, 1500]),
        32, 0.35,
    )


def test_kernel_chain_absence_state_interops_with_general_nfa():
    _fuzz_resume(
        44, 200,
        lambda r: _absence(r, r.choice([3, 4]), [None, 1050], [0, 350, 950]),
        14, 0.4,
    )


# ------------------------------------------- quantified chains (k >= 2)
def test_kernel2_quant_matches_general_nfa_randomized():
    """quant2: ``every a<n:m> -> b [within t]`` on run_kernel_chain_quants
    with ``[(0, n, m)]``, OVERLAPPING masks (greedy extension beats
    completion when one row matches both), full state incl. last_ts."""
    _fuzz_single(
        11, 600,
        lambda r: _quant(r, 2, [(0, *_nm(r, [0, 1, 2, None]))],
                         [None, 550, 1250]),
        28, 0.35,
    )


def test_kernel2_quant_state_interops_with_general_nfa():
    _fuzz_resume(
        23, 400,
        lambda r: _quant(r, 2, [(0, *_nm(r, [0, 2, None]))],
                         [None, 750, 1500]),
        14, 0.4,
    )


def _one_quant(r, ms, withins):
    k = r.choice([3, 3, 4])
    return _quant(r, k, [(r.randint(0, k - 2), *_nm(r, ms))], withins)


def test_kernel_chain_quant_matches_general_nfa_randomized():
    """chain_quant: one quantified stage at any qpos in [0, k-2], k=3/4,
    OVERLAPPING masks (extension beats advancing when a row matches both
    the quant stage and the next)."""
    _fuzz_single(
        61, 600, lambda r: _one_quant(r, [0, 1, 2, None],
                                      [None, 850, 1650]),
        30, 0.35,
    )


def test_kernel_chain_quant_state_interops_with_general_nfa():
    """Resumed prefix-stage, mid-quant and suffix-stage partials."""
    _fuzz_resume(
        62, 400, lambda r: _one_quant(r, [0, 2, None],
                                      [None, 1050, 2250]),
        14, 0.4,
    )


def _rand_quants(rng, k):
    """1-2 quantified interior stages, no two adjacent, none last."""
    qpos1 = rng.randint(0, k - 2)
    quants = [(qpos1, rng.randint(1, 2),
               rng.choice([1, 2, 3, None]) or None)]
    if quants[0][2] is not None and quants[0][2] < quants[0][1]:
        quants[0] = (qpos1, quants[0][1], quants[0][1])
    others = [p for p in range(k - 1) if abs(p - qpos1) >= 2]
    if others and rng.random() < 0.7:
        qpos2 = rng.choice(others)
        n2 = rng.randint(1, 2)
        m2 = rng.choice([n2, n2 + 1, None])
        quants.append((qpos2, n2, m2))
    return sorted(quants)


def _multi_quant(r, withins):
    k = r.choice([4, 4, 5])
    return _quant(r, k, _rand_quants(r, k), withins)


def test_kernel_chain_multiquant_matches_general_nfa_randomized():
    """Multi-quant chains (``a<1:2> -> b -> c<1:2> -> d`` and friends):
    1-2 non-adjacent quant stages over k in {4,5}."""
    _fuzz_single(71, 600, lambda r: _multi_quant(r, [None, 1250, 2450]),
                 30, 0.35)


def test_kernel_chain_multiquant_state_interops_with_general_nfa():
    """Resumed prefix / mid-quant-1 / between-quants / mid-quant-2 /
    suffix partial states."""
    _fuzz_resume(72, 400, lambda r: _multi_quant(r, [None, 1450, 2850]),
                 14, 0.4)


# ----------------------------------------------------- shape dispatch
def test_kernel2_shape_classifier():
    e2 = _elems(2)
    assert kernel2_shape(e2, True, None, [False]) == "every2"
    assert kernel2_shape(e2, True, None, [True]) == "every2"
    assert kernel2_shape(e2, False, None, [False]) == "plain2"
    assert kernel2_shape(e2, False, None, [True]) == "plain2"
    ab = _elems(2, for_ms=500)
    assert kernel2_shape(ab, True, None, [False]) == "absence2"
    # not kernelizable: strict absence, no for_ms, non-every absence,
    # mid-every, quantifiers
    assert kernel2_shape(ab, True, None, [True]) is None
    assert kernel2_shape(
        [e2[0], A.PatternElem(stream="s", alias="nx", negated=True)],
        True, None, [False],
    ) is None
    assert kernel2_shape(ab, False, None, [False]) is None
    assert kernel2_shape(e2, True, 1, [False]) is None
    # quantified first element = quant2: every + relaxed only,
    # min_count >= 1; strict / non-every / a* / a? keep the general NFA
    q = _elems(2, [(0, 1, 2)])
    assert kernel2_shape(q, True, None, [False]) == "quant2"
    assert kernel2_shape(_elems(2, [(0, 2, None)]), True, None, [False]) \
        == "quant2"
    assert kernel2_shape(q, True, None, [True]) is None
    assert kernel2_shape(q, False, None, [False]) is None
    assert kernel2_shape(_elems(2, [(0, 0, 2)]), True, None, [False]) is None
    assert kernel2_shape(_elems(2, [(0, 0, 1)]), True, None, [False]) is None
    # quantified a with a QUANTIFIED or negated b stays on the NFA
    assert kernel2_shape(
        _elems(2, [(0, 1, 2), (1, 1, 2)]), True, None, [False]
    ) is None
    assert kernel2_shape(
        _elems(2, [(0, 1, 2)], for_ms=500), True, None, [False]
    ) is None
    # k-step plain chains = chain (every) / plain_chain (arm-once), with
    # any mix of relaxed and strict connectors
    e3, e4 = _elems(3), _elems(4)
    assert kernel2_shape(e3, True, None, [False, False]) == "chain"
    assert kernel2_shape(e4, True, None, [False] * 3) == "chain"
    assert kernel2_shape(e3, True, None, [True, False]) == "chain"
    assert kernel2_shape(e3, True, None, [False, True]) == "chain"
    assert kernel2_shape(e4, True, None, [True] * 3) == "chain"
    assert kernel2_shape(e3, False, None, [False, False]) == "plain_chain"
    assert kernel2_shape(e4, False, None, [False] * 3) == "plain_chain"
    assert kernel2_shape(e3, False, None, [True, False]) == "plain_chain"
    assert kernel2_shape(e3, True, 1, [False, False]) is None
    # chain ending in `not X for t` = chain_absence (funnel abandonment);
    # without for_ms, arm-once, or strict, still the general NFA
    n3 = _elems(3, for_ms=500)
    assert kernel2_shape(n3, True, None, [False, False]) == "chain_absence"
    n3b = e2 + [A.PatternElem(stream="s", alias="c", negated=True)]
    assert kernel2_shape(n3b, True, None, [False, False]) is None
    assert kernel2_shape(n3, False, None, [False, False]) is None
    assert kernel2_shape(n3, True, None, [True, False]) is None
    # a TRAILING quantifier falls to the general NFA (its completion
    # waits on stream close); quantified non-final stages in a relaxed
    # every-chain = chain_quant
    assert kernel2_shape(_elems(3, [(2, 1, 2)]), True, None,
                         [False, False]) is None
    cq_mid = _elems(3, [(1, 1, 2)])
    assert kernel2_shape(cq_mid, True, None, [False, False]) == "chain_quant"
    assert kernel2_shape(_elems(3, [(0, 2, None)]), True, None,
                         [False, False]) == "chain_quant"
    assert kernel2_shape(_elems(4, [(2, 1, 3)]), True, None,
                         [False] * 3) == "chain_quant"
    # strict / non-every / min 0 / adjacent quants / mid-every keep the NFA
    assert kernel2_shape(cq_mid, True, None, [True, False]) is None
    assert kernel2_shape(cq_mid, False, None, [False, False]) is None
    assert kernel2_shape(_elems(3, [(1, 0, 2)]), True, None,
                         [False, False]) is None
    assert kernel2_shape(_elems(3, [(0, 1, 2), (1, 1, 2)]), True, None,
                         [False, False]) is None
    assert kernel2_shape(cq_mid, True, 1, [False, False]) is None
    # multiple NON-adjacent quants = chain_quant too
    assert kernel2_shape(_elems(4, [(0, 1, 2), (2, 2, None)]), True, None,
                         [False] * 3) == "chain_quant"


def test_run_shape_dispatch():
    """One dispatch for batch and streaming: each label runs its stage
    kind's kernel; ``at_close`` (batch) sends the absence shapes to the
    general NFA, which confirms a pending absence at stream close."""
    ts = np.array([100, 200, 300, 400, 900], np.int64)
    ma = np.array([1, 0, 1, 0, 0], bool)
    mb = np.array([0, 1, 0, 1, 1], bool)
    for shape, every, strict in (("every2", True, [True]),
                                 ("plain2", False, [False])):
        assert kernel2_shape(_elems(2), every, None, strict) == shape
        fn = run_kernel_chain if every else run_kernel_chain_nonevery
        assert run_shape(shape, ts, [ma, mb], _elems(2), strict, every,
                         None) == fn(ts, [ma, mb], 0, None, None, strict)
    q = _elems(2, [(0, 1, 2)])
    assert run_shape("quant2", ts, [ma, mb], q, [False], True, None) == \
        run_kernel_chain_quants(ts, [ma, mb], [(0, 1, 2)], 0, None, None)
    # the perfbench entry points are the k = 2 chain kernels
    assert run_kernel2(ts, ma, mb, 0, None, 250, False) == \
        run_kernel_chain(ts, [ma, mb], 0, None, 250)
    assert run_kernel2_absence(ts, ma, ~ma, 0, None, None, 50) == \
        run_kernel_chain_absence(ts, [ma, ~ma], 0, None, None, 50)
    # `every a -> not b for 150`: the last a (300) waits for a confirming
    # row past 450 that never comes — streaming holds it, batch closes it
    ab = _elems(2, for_ms=150)
    mb2 = np.array([0, 1, 0, 0, 0], bool)
    ts2 = ts[:4]
    stream_m, _ = run_shape("absence2", ts2, [ma[:4], mb2[:4]], ab, [False],
                            True, None)
    batch_m, _ = run_shape("absence2", ts2, [ma[:4], mb2[:4]], ab, [False],
                           True, None, at_close=True)
    assert stream_m == [] and batch_m == [[[2], []]]
