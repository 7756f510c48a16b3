"""Property-based fuzzing of the streaming state machine WITHOUT Spark:
the `applyInPandasWithState` update function is driven directly with a
fake GroupState over randomized rows and randomized micro-batch splits,
and compared against a brute-force per-row model of the reference
semantics (running per-entity aggregation, null-skipping, since-window
resets where the firing row closes its window).

This hammers exactly the carry/reset edges Spark runs are too slow to
fuzz: state carried across arbitrary batch boundaries, window fires on
the last row of a batch, all-null prefixes, typed (string) values.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import types as T
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kaskada_spark.prepare import KEY, SUBSORT, TIME
from kaskada_spark.streaming.state_machines import (
    AggSpec,
    _make_update_fn,
    _state_field_names,
)


class FakeState:
    """GroupState stand-in; the test sets the watermark (``wm_ms``) and
    reads back the last armed timer (``timeout_ms``)."""

    def __init__(self):
        self._v = None
        self.exists = False
        self.wm_ms = 0
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ts):
        self.timeout_ms = ts


ROW = st.tuples(
    st.one_of(st.none(), st.integers(-50, 50)),  # value (nullable)
    st.booleans(),                               # since fire
)


def _chunks(pdf, cuts):
    """Split sorted rows into contiguous micro-batches at `cuts`."""
    bounds = sorted({min(c, len(pdf)) for c in cuts} | {0, len(pdf)})
    out = []
    for a, b in zip(bounds, bounds[1:]):
        if b > a:
            out.append(pdf.iloc[a:b].reset_index(drop=True))
    return out


def _drive(specs, pdf, cuts, kinds=None):
    kinds = kinds or {s.alias: "num" for s in specs}
    fn = _make_update_fn(specs, list(pdf.columns), kinds)
    state = FakeState()
    outs = []
    for chunk in _chunks(pdf, cuts):
        outs.extend(fn((1,), iter([chunk]), state))
    # state must round-trip through its declared flat tuple shape
    assert state.exists and len(state._v) == 2 + len(_state_field_names(specs))
    return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()


def _brute(rows, op, since):
    """Reference model: for each row, aggregate non-null values of rows
    in the same since-window (fires BEFORE the row demarcate) up to and
    including the row."""
    out = []
    wid = 0
    windows = {0: []}
    for v, fire in rows:
        windows.setdefault(wid, [])
        if v is not None:
            windows[wid].append(v)
        vals = windows[wid]
        if op == "count":
            out.append(len(vals))
        elif op == "count_if":
            out.append(sum(1 for x in vals if x == 1))
        elif not vals:
            out.append(None)
        elif op == "sum":
            out.append(float(sum(vals)))
        elif op == "min":
            out.append(float(min(vals)))
        elif op == "max":
            out.append(float(max(vals)))
        elif op == "mean":
            out.append(sum(vals) / len(vals))
        elif op == "first":
            out.append(float(vals[0]))
        elif op == "last":
            out.append(float(vals[-1]))
        elif op in ("variance", "stddev"):
            if len(vals) < 2:
                out.append(None)
            else:
                mu = sum(vals) / len(vals)
                var = sum((x - mu) ** 2 for x in vals) / len(vals)
                out.append(math.sqrt(var) if op == "stddev" else var)
        if since and fire:
            wid += 1
    return out


def _frame(rows):
    t0 = pd.Timestamp(2024, 1, 1)
    return pd.DataFrame(
        {
            "_key": 1,
            "_time": [t0 + pd.Timedelta(minutes=i) for i in range(len(rows))],
            "_subsort": range(len(rows)),
            "v": [float(v) if v is not None else None for v, _ in rows],
            "fire": [f for _, f in rows],
        }
    )


OPS = ("sum", "count", "min", "max", "mean", "first", "last", "variance", "stddev")


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(ROW, min_size=1, max_size=24),
    st.lists(st.integers(1, 23), max_size=4),
    st.sampled_from(OPS),
    st.booleans(),
)
def test_state_machine_matches_brute_force(rows, cuts, op, windowed):
    pdf = _frame(rows)
    specs = [AggSpec(op, "v", "out", since="fire" if windowed else None)]
    got = _drive(specs, pdf, cuts)["out"].tolist()
    exp = _brute(rows, op, windowed)
    assert len(got) == len(exp)
    for i, (g, e) in enumerate(zip(got, exp)):
        if e is None:
            assert g is None or (isinstance(g, float) and math.isnan(g)), (i, g)
        else:
            assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (i, g, e)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.one_of(st.none(), st.sampled_from(["a", "bb", "c", "dd"])), st.booleans()),
        min_size=1,
        max_size=20,
    ),
    st.lists(st.integers(1, 19), max_size=3),
    st.sampled_from(("first", "last", "min", "max")),
)
def test_typed_string_state_machine_matches_brute_force(rows, cuts, op):
    t0 = pd.Timestamp(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "_key": 1,
            "_time": [t0 + pd.Timedelta(minutes=i) for i in range(len(rows))],
            "_subsort": range(len(rows)),
            "v": [v for v, _ in rows],
            "fire": [f for _, f in rows],
        }
    )
    specs = [AggSpec(op, "v", "out", since="fire")]
    got = _drive(specs, pdf, cuts, kinds={"out": "str"})["out"].tolist()

    exp = []
    wid_vals: list[str] = []
    for v, fire in rows:
        if v is not None:
            wid_vals.append(v)
        if not wid_vals:
            exp.append(None)
        elif op == "first":
            exp.append(wid_vals[0])
        elif op == "last":
            exp.append(wid_vals[-1])
        elif op == "min":
            exp.append(min(wid_vals))
        else:
            exp.append(max(wid_vals))
        if fire:
            wid_vals = []
    assert len(got) == len(exp)
    for i, (g, e) in enumerate(zip(got, exp)):
        if e is None:
            assert g is None or (isinstance(g, float) and pd.isna(g)), (i, g)
        else:
            assert g == e, (i, g, e)


def _brute_sliding(rows, op, n):
    """sliding(n, fire): aggregate over the previous n-1 CLOSED windows
    plus the current partial window up to the row."""
    out = []
    closed: list[list[float]] = []
    cur: list[float] = []
    for v, fire in rows:
        if v is not None:
            cur.append(float(v))
        vals = [x for w in closed[-(n - 1):] for x in w] + cur if n > 1 else list(cur)
        if op == "count":
            out.append(len(vals))
        elif not vals:
            out.append(None)
        elif op == "sum":
            out.append(float(sum(vals)))
        elif op == "min":
            out.append(float(min(vals)))
        elif op == "max":
            out.append(float(max(vals)))
        elif op == "mean":
            out.append(sum(vals) / len(vals))
        elif op == "first":
            out.append(vals[0])
        elif op == "last":
            out.append(vals[-1])
        elif op in ("variance", "stddev"):
            if len(vals) < 2:
                out.append(None)
            else:
                mu = sum(vals) / len(vals)
                var = sum((x - mu) ** 2 for x in vals) / len(vals)
                out.append(math.sqrt(var) if op == "stddev" else var)
        if fire:
            closed.append(cur)
            cur = []
    return out


SLIDING_OPS = ("sum", "count", "min", "max", "mean", "first", "last", "variance", "stddev")


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(ROW, min_size=1, max_size=22),
    st.lists(st.integers(1, 21), max_size=4),
    st.sampled_from(SLIDING_OPS),
    st.integers(1, 3),
)
def test_sliding_state_machine_matches_brute_force(rows, cuts, op, n):
    pdf = _frame(rows)
    specs = [AggSpec(op, "v", "out", since="fire", n=n)]
    got = _drive(specs, pdf, cuts)["out"].tolist()
    exp = _brute_sliding(rows, op, n)
    assert len(got) == len(exp)
    for i, (g, e) in enumerate(zip(got, exp)):
        if e is None:
            assert g is None or (isinstance(g, float) and math.isnan(g)), (i, g)
        else:
            assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (i, g, e)


# ----------------------------------------------------------------------
# tick boundary machine (streaming/ticks._make_tick_fn): fuzz the
# boundary-close/merge logic across arbitrary micro-batch splits and a
# advancing watermark — the full 11-op component-merge surface added in
# round 3 (shift-centered variance carried across batches, first/last/
# mean merges, empty windows)
# ----------------------------------------------------------------------
from kaskada_spark.streaming.ticks import TickAggSpec, _Cal, _make_tick_fn

HOUR_NS = 3600 * 10**9


TICK_OPS = ("sum", "count", "count_if", "min", "max", "mean",
            "variance", "stddev", "first", "last")


def _agg_of(win, op):
    if op == "count":
        return len(win)
    if op == "count_if":
        return sum(1 for x in win if x == 1)
    if not win:
        return None
    if op == "sum":
        return float(sum(win))
    if op == "min":
        return float(min(win))
    if op == "max":
        return float(max(win))
    if op == "mean":
        return sum(win) / len(win)
    if op == "first":
        return float(win[0])
    if op == "last":
        return float(win[-1])
    if len(win) < 2:
        return None
    mu = sum(win) / len(win)
    var = sum((x - mu) ** 2 for x in win) / len(win)
    return math.sqrt(var) if op == "stddev" else var


def _brute_ticks(chunks, wms, op):
    """Incremental reference model of the tick machine's close rules:
    events prove closure strictly below the newest event's bucket; the
    watermark closes at-or-below; rows whose bucket already closed are
    dropped (bounded lateness, same convention as the other machines)."""
    settled: dict[int, list] = {}
    open_vals: dict[int, list] = {}
    next_tick = None
    max_t = None

    def close_through(target, inclusive):
        nonlocal next_tick
        while next_tick is not None and (
            next_tick <= target if inclusive else next_tick < target
        ):
            settled[next_tick] = open_vals.pop(next_tick, [])
            next_tick += 60

    for rows, wm in zip(chunks, wms):
        for t, v in rows:
            b = ((t + 59) // 60) * 60
            if next_tick is None:
                next_tick = b
            if b < next_tick:
                continue  # window already closed: straggler dropped
            if v is not None:
                open_vals.setdefault(b, []).append(float(v))
            else:
                open_vals.setdefault(b, [])
            max_t = t if max_t is None else max(max_t, t)
        if max_t is not None:
            close_through(((max_t + 59) // 60) * 60, inclusive=False)
        if wm is not None:
            close_through(wm, inclusive=True)
    return {b: _agg_of(v, op) for b, v in settled.items()}


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 240), st.one_of(st.none(), st.integers(-20, 20))),
        min_size=1, max_size=24,
    ),
    st.lists(st.integers(1, 23), max_size=4),
    st.sampled_from(TICK_OPS),
)
def test_tick_machine_matches_brute_force(events, cuts, op):
    events = sorted(events, key=lambda e: e[0])  # stable; values may be None
    times_min = [t for t, _ in events]
    vals = [v for _, v in events]
    t0 = pd.Timestamp(2024, 1, 1).value // 10**9 // 60  # minutes epoch

    pdf = pd.DataFrame(
        {
            "_key": 1,
            "_time": [pd.Timestamp((t0 + t) * 60 * 10**9) for t in times_min],
            "_subsort": range(len(events)),
            "v": [float(v) if v is not None else None for v in vals],
        }
    )
    spec = TickAggSpec(op, "v", "out")
    fn = _make_tick_fn([spec], _Cal("hourly"))
    state = FakeState()
    emitted = []
    model_chunks, model_wms = [], []
    seen_max = None
    for chunk in _chunks(pdf, cuts):
        # Spark's watermark lags one batch: it reflects data seen BEFORE
        # this batch
        wm_min = None if seen_max is None else seen_max
        state.wm_ms = 0 if wm_min is None else (t0 + wm_min) * 60_000
        for out in fn((1,), iter([chunk]), state):
            emitted.append(out)
        rel = [
            ((int(t) // 10**9) // 60 - t0, None if pd.isna(v) else v)
            for t, v in zip(chunk["_time"].astype("int64"), chunk["v"])
        ]
        model_chunks.append(rel)
        model_wms.append(wm_min)
        mx = max(r[0] for r in rel)
        seen_max = mx if seen_max is None else max(seen_max, mx)
    # final timeout pass with the terminal watermark (availableNow end)
    state.wm_ms = (t0 + seen_max) * 60_000
    for out in fn((1,), iter([]), state):
        emitted.append(out)
    model_chunks.append([])
    model_wms.append(seen_max)

    got = {}
    for frame in emitted:
        for _, r in frame.iterrows():
            b_min = (pd.Timestamp(r["tick_time"]).value // 10**9) // 60 - t0
            assert b_min not in got, f"boundary {b_min} emitted twice"
            got[b_min] = r["out"]

    exp = _brute_ticks(model_chunks, model_wms, op)
    assert set(got) == set(exp), (sorted(got), sorted(exp))
    for b, e in exp.items():
        g = got[b]
        if e is None:
            assert g is None or (isinstance(g, float) and math.isnan(g)), (b, g)
        else:
            assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (b, g, e)


# ----------------------------------------------------------------------
# tick-RUNNING machine (the materialize shape: per-event running values
# + injected boundary rows): SPLIT-INVARIANCE fuzz — output under any
# micro-batch split + watermark progression must equal the single-batch
# run (which the Spark equivalence tests pin to the batch lowering)
# ----------------------------------------------------------------------
from kaskada_spark.streaming.state_machines import AggSpec as _AggSpec
from kaskada_spark.streaming.ticks import _make_tick_running_fn

TR_OPS = ("sum", "count", "count_if", "min", "max", "mean",
          "variance", "stddev", "first", "last")


def _drive_tick_running(specs, tick_aliases, comp_names, pdf, cuts):
    fn = _make_tick_running_fn(
        specs, _Cal("hourly"), {s.alias: "num" for s in specs},
        ["v", "fire"], set(tick_aliases), comp_names,
    )
    state = FakeState()
    outs = []
    seen_max_ms = None
    t0 = pd.Timestamp(2024, 1, 1).value // 10**6
    for chunk in _chunks(pdf, cuts):
        state.wm_ms = 0 if seen_max_ms is None else seen_max_ms
        outs.extend(fn((1,), iter([chunk]), state))
        mx = int(chunk["_time"].astype("int64").max()) // 10**6
        seen_max_ms = mx if seen_max_ms is None else max(seen_max_ms, mx)
    state.wm_ms = seen_max_ms
    outs.extend(fn((1,), iter([]), state))
    out = pd.concat(outs, ignore_index=True)
    return out.sort_values(["_time", "_subsort"]).reset_index(drop=True)


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 200),                        # minutes offset
            st.one_of(st.none(), st.integers(-20, 20)),  # value
            st.booleans(),                               # since-fire
        ),
        min_size=1, max_size=20,
    ),
    st.lists(st.integers(1, 19), max_size=4),
    st.sampled_from(TR_OPS),
    st.sampled_from(["tick", "cond", "plain"]),
)
def test_tick_running_machine_split_invariance(events, cuts, op, mode):
    from kaskada_spark.streaming.state_machines import _state_schema, _value_kind  # noqa: F401

    events = sorted(events, key=lambda e: e[0])
    t0 = pd.Timestamp(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "_key": 1,
            "_time": [t0 + pd.Timedelta(minutes=t) for t, _, _ in events],
            "_subsort": range(len(events)),
            "v": [float(v) if v is not None else None for _, v, _ in events],
            "fire": [f for _, _, f in events],
        }
    )
    spec = _AggSpec(op, "v", "out", since="fire" if mode == "cond" else None)
    tick_aliases = {"out"} if mode == "tick" else set()
    from kaskada_spark.streaming.state_machines import _STATE_COMPS

    comp_names = [f"out__{c}" for c in _STATE_COMPS[op]]
    single = _drive_tick_running([spec], tick_aliases, comp_names, pdf, [])
    split = _drive_tick_running([spec], tick_aliases, comp_names, pdf, cuts)
    assert len(single) == len(split), (len(single), len(split))
    for i in range(len(single)):
        a, b = single.iloc[i], split.iloc[i]
        assert a["_time"] == b["_time"] and a["_subsort"] == b["_subsort"], i
        ga, gb = a["out"], b["out"]
        if pd.isna(ga) or ga is None:
            assert gb is None or pd.isna(gb), (i, ga, gb)
        else:
            assert gb == pytest.approx(ga, rel=1e-9, abs=1e-9), (i, ga, gb)


def _brute_chained(rows, inner_op, outer_op):
    """Reference chained-agg model (latched reconsumption,
    test_nested_sum_i64): the inner aggregate's running value is
    consumed by the outer at EVERY row — including rows where the inner
    input was null, where the held value counts again; rows before the
    first non-null input contribute nothing (inner is null)."""
    inner_vals = []
    inner_run = []
    for v, _ in rows:
        if v is not None:
            inner_vals.append(v)
        if not inner_vals:
            inner_run.append(None)
        elif inner_op == "sum":
            inner_run.append(float(sum(inner_vals)))
        elif inner_op == "mean":
            inner_run.append(sum(inner_vals) / len(inner_vals))
        elif inner_op == "last":
            inner_run.append(float(inner_vals[-1]))
    outer_inputs = []
    out = []
    for iv in inner_run:
        if iv is not None:
            outer_inputs.append(iv)
        vals = outer_inputs
        if outer_op == "count":
            out.append(len(vals))
        elif not vals:
            out.append(None)
        elif outer_op == "sum":
            out.append(float(sum(vals)))
        elif outer_op == "mean":
            out.append(sum(vals) / len(vals))
        elif outer_op == "max":
            out.append(float(max(vals)))
    return inner_run, out


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(ROW, min_size=1, max_size=24),
    st.lists(st.integers(1, 23), max_size=4),
    st.sampled_from(("sum", "mean", "last")),
    st.sampled_from(("sum", "mean", "count", "max")),
)
def test_chained_state_machine_matches_brute_force(rows, cuts, inner_op, outer_op):
    """Chained specs across arbitrary micro-batch splits: the outer
    consumes the inner's latched per-row output (null-input rows
    re-consume the held value) exactly like the reference model."""
    pdf = _frame(rows)
    specs = [
        AggSpec(inner_op, "v", "inner"),
        AggSpec(outer_op, "inner", "out"),
    ]
    res = _drive(specs, pdf, cuts)
    exp_inner, exp_out = _brute_chained(rows, inner_op, outer_op)
    for col, exp in (("inner", exp_inner), ("out", exp_out)):
        got = res[col].tolist()
        assert len(got) == len(exp)
        for i, (g, e) in enumerate(zip(got, exp)):
            if e is None:
                assert g is None or (isinstance(g, float) and math.isnan(g)), (col, i, g)
            else:
                assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (col, i, g, e)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 200),                         # minutes offset
            st.one_of(st.none(), st.integers(-20, 20)),  # value
            st.booleans(),                               # unused fire slot
        ),
        min_size=1, max_size=20,
    ),
    st.lists(st.integers(1, 19), max_size=4),
    st.sampled_from(("sum", "mean", "last")),
    st.sampled_from(("sum", "mean", "count", "max")),
    st.sampled_from(["tick", "plain"]),
)
def test_tick_machine_chained_split_invariance(events, cuts, inner_op, outer_op, mode):
    """Chained specs through the TICK machine: micro-batch splits must
    not change any row (incl. injected boundary rows, where the outer
    consumes the inner's latch). Covers the outer as tick-windowed and
    as plain running."""
    from kaskada_spark.streaming.state_machines import _STATE_COMPS

    events = sorted(events, key=lambda e: e[0])
    t0 = pd.Timestamp(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "_key": 1,
            "_time": [t0 + pd.Timedelta(minutes=t) for t, _, _ in events],
            "_subsort": range(len(events)),
            "v": [float(v) if v is not None else None for _, v, _ in events],
            "fire": [f for _, _, f in events],
        }
    )
    specs = [
        _AggSpec(inner_op, "v", "inner"),
        _AggSpec(outer_op, "inner", "out"),
    ]
    tick_aliases = {"out"} if mode == "tick" else set()
    comp_names = [f"inner__{c}" for c in _STATE_COMPS[inner_op]] + [
        f"out__{c}" for c in _STATE_COMPS[outer_op]
    ]
    single = _drive_tick_running(specs, tick_aliases, comp_names, pdf, [])
    split = _drive_tick_running(specs, tick_aliases, comp_names, pdf, cuts)
    assert len(single) == len(split), (len(single), len(split))
    for i in range(len(single)):
        a, b = single.iloc[i], split.iloc[i]
        assert a["_time"] == b["_time"] and a["_subsort"] == b["_subsort"], i
        for col in ("inner", "out"):
            ga, gb = a[col], b[col]
            if pd.isna(ga) or ga is None:
                assert gb is None or pd.isna(gb), (i, col, ga, gb)
            else:
                assert gb == pytest.approx(ga, rel=1e-9, abs=1e-9), (i, col, ga, gb)


# ---------------------------------------------------------------------------
# CEP pattern machine: Spark-free micro-batch fuzz vs the batch model
# ---------------------------------------------------------------------------
def _drive_pattern(spec_steps, within_s, events, cuts, unless_label=None,
                   aggs=("sum",)):
    """Drive streaming/cep.py::_make_pattern_fn for ONE entity with a
    fake GroupState across micro-batch `cuts`, watermark advancing to
    the max fed event time after each batch, then a far-future flush.
    events: sorted [(t_sec, s, label, val)], ``val`` may be None;
    ``unless_label`` marks abort rows; every "+"/"*" step carries one
    ``<fn>_<name>`` aggregate of ``val`` per fn in ``aggs``."""
    from kaskada_spark.operators.cep import PatternStep
    from kaskada_spark.prepare import KEY, SUBSORT, TIME
    from kaskada_spark.streaming import cep as scep

    labels = ["a", "b", "e", "d", "c"]
    spec_steps = [(s[0], s[1], s[2] if len(s) > 2 else 1) for s in spec_steps]
    quant = {n: (q, m) for n, q, m in spec_steps}
    steps = [
        PatternStep(n, None, quant[n][0],
                    aggs=[(f"{fn}_{n}", fn, "val") for fn in aggs]
                    if quant[n][0] in ("+", "*") else [],
                    min_count=quant[n][1])
        for n in labels if n in quant
    ]
    names = [s.name for s in steps]
    spec, _vidx = scep._build_pattern_spec(
        steps, f"{within_s} seconds" if within_s is not None else None
    )
    spec["has_unless"] = unless_label is not None
    fn = scep._make_pattern_fn(spec)

    base = pd.Timestamp(2024, 1, 1)
    def mk_pdf(evs):
        cols = {
            TIME: [base + pd.Timedelta(seconds=t) for t, _s, _l, _v in evs],
            SUBSORT: [s for _t, s, _l, _v in evs],
            KEY: ["e"] * len(evs),
            **{f"__p{i}": [lbl == names[i] for _t, _s, lbl, _v in evs]
               for i in range(len(steps))},
        }
        if unless_label is not None:
            cols[f"__p{len(steps)}"] = [lbl == unless_label for _t, _s, lbl, _v in evs]
        cols["__v0"] = [np.nan if v is None else float(v) for _t, _s, _l, v in evs]
        return pd.DataFrame(cols)

    state, outs = FakeState(), []
    bounds = sorted({min(c, len(events)) for c in cuts} | {0, len(events)})
    fed_max = 0
    for a, b in zip(bounds, bounds[1:]):
        chunk = events[a:b]
        if not chunk:
            continue
        fed_max = max(fed_max, max(t for t, *_ in chunk))
        state.wm_ms = int((base + pd.Timedelta(seconds=fed_max)).value) // 10**6
        outs.extend(fn(("e",), iter([mk_pdf(chunk)]), state))
    state.wm_ms = int((base + pd.Timedelta(days=365)).value) // 10**6
    outs.extend(fn(("e",), iter([]), state))
    if not outs:
        return None
    row = outs[0].iloc[0]
    return row, base


def test_pattern_machine_matches_batch_model_fuzz():
    """pattern_stream's state machine == the batch reference model on
    randomized per-entity event sets split at randomized micro-batch
    boundaries (in-order feeding; the settle logic is exercised by the
    Spark-level out-of-order tests)."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(23)
    spec = [("a", "1"), ("b", "+"), ("d", "?"), ("c", "1")]
    n_emitted = 0
    for trial in range(300):
        n = rng.randint(1, 25)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abcdx"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b", l == "d", l == "c"), v)
                 for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=300)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 4)))
        got = _drive_pattern(spec, 300, events, cuts)
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        ts = lambda x: base + pd.Timedelta(seconds=x) if x is not None else None
        for nm in ("a", "b", "c", "d"):
            g = row[f"t_{nm}"]
            e = ts(exp[f"t_{nm}"])
            if e is None:
                assert pd.isna(g), (trial, nm, g)
            else:
                assert g == e, (trial, nm, g, e)
        assert row["n_b"] == exp["n_b"], (trial, row["n_b"], exp["n_b"])
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
    assert n_emitted >= 40


def test_pattern_machine_trailing_plus_fuzz():
    """Trailing-open (`a b+`): emission at horizon close, consumption
    horizon-bounded — vs the batch model."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(29)
    spec = [("a", "1"), ("b", "+")]
    n_emitted = 0
    for trial in range(300):
        n = rng.randint(1, 20)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abx"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b"), v) for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=100)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 3)))
        got = _drive_pattern(spec, 100, events, cuts)
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        assert row["t_a"] == base + pd.Timedelta(seconds=exp["t_a"]), trial
        assert row["t_b"] == base + pd.Timedelta(seconds=exp["t_b"]), trial
        assert row["n_b"] == exp["n_b"], (trial, row["n_b"], exp["n_b"])
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
    assert n_emitted >= 60


def test_pattern_machine_star_fuzz():
    """`a b+ e* c` with a zero-or-more consumer: machine == batch model
    (star consumption window, zero-count completion, aggregates)."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(37)
    spec = [("a", "1"), ("b", "+"), ("e", "*"), ("c", "1")]
    n_emitted = n_star = 0
    for trial in range(300):
        n = rng.randint(1, 25)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abcex"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b", l == "e", l == "c"), v)
                 for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=300)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 4)))
        got = _drive_pattern(spec, 300, events, cuts)
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        ts = lambda x: base + pd.Timedelta(seconds=x) if x is not None else None
        for nm in ("a", "b", "e", "c"):
            g, e = row[f"t_{nm}"], ts(exp[f"t_{nm}"])
            if e is None:
                assert pd.isna(g), (trial, nm, g)
            else:
                assert g == e, (trial, nm, g, e)
        assert row["n_b"] == exp["n_b"], trial
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        assert row["n_e"] == exp["n_e"], (trial, row["n_e"], exp["n_e"])
        if exp["n_e"]:
            assert row["sum_e"] == pytest.approx(float(exp["sum_e"])), trial
            n_star += 1
        else:
            assert row["sum_e"] is None or pd.isna(row["sum_e"]), trial
        n_emitted += 1
    assert n_emitted >= 40 and n_star >= 5


def test_pattern_machine_min_count_fuzz():
    """`a b{3,} c` with sub-occurrences spanning micro-batch splits:
    the cur_* partial-progress state must carry 1-of-3 / 2-of-3
    sub-matches across invocations — vs the batch model."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(43)
    spec = [("a", "1"), ("b", "+", 3), ("c", "1")]
    n_emitted = 0
    for trial in range(300):
        n = rng.randint(3, 30)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abbcx"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b", l == "c"), v)
                 for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=400)
        # many cuts -> sub-matches split across invocations often
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(2, 8)))
        got = _drive_pattern(spec, 400, events, cuts)
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        ts = lambda x: base + pd.Timedelta(seconds=x)
        assert row["t_a"] == ts(exp["t_a"]), trial
        assert row["t_b"] == ts(exp["t_b"]), trial
        assert row["t_c"] == ts(exp["t_c"]), trial
        assert row["n_b"] == exp["n_b"] and row["n_b"] >= 3, trial
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
    assert n_emitted >= 40

    # a rank-0 `+` run found in its first occurrence's own pass is bounded
    # by that occurrence's horizon too: `a{3,} b?` within 100 s over `a`
    # at 0, 1, 1000 never completes, however the rows are cut
    advice = [(0, 0, "a", 1.0), (1, 1, "a", 1.0), (1000, 2, "a", 1.0)]
    for cuts in ([], [1], [2], [1, 2]):
        assert _drive_pattern([("a", "+", 3), ("b", "?")], 100, advice, cuts) is None, cuts

    # in-pass min_count shapes with `within`: the whole match may sit in
    # one micro-batch (cuts=[]) or straddle random cuts
    shapes = [
        ([("a", "+", 3), ("b", "?")], "ab", ("a", "b")),
        ([("a", "+", 2), ("b", "1")], "aabx", ("a", "b")),
        ([("a", "1"), ("b", "+", 2)], "abbx", ("a", "b")),
    ]
    n_shape = 0
    for spec_s, alphabet, labels in shapes:
        for trial in range(150):
            n = rng.randint(2, 14)
            events = sorted(
                (rng.randint(0, 300), s, rng.choice(alphabet), rng.randint(1, 9))
                for s in range(n)
            )
            flags = [(t, s, tuple(l == x for x in labels), v) for t, s, l, v in events]
            exp = _brute_pattern(flags, spec_s, within=60)
            for cuts in ([], sorted(rng.randint(0, n) for _ in range(3))):
                got = _drive_pattern(spec_s, 60, events, cuts)
                if not exp["completed"]:
                    assert got is None, (spec_s, trial, cuts, exp)
                    continue
                assert got is not None, (spec_s, trial, cuts, exp)
                row, base = got
                for nm in labels:
                    e = exp[f"t_{nm}"]
                    assert row[f"t_{nm}"] == (
                        pd.NaT if e is None else base + pd.Timedelta(seconds=e)
                    ) or (e is None and pd.isna(row[f"t_{nm}"])), (spec_s, trial, nm)
                for nm, (_n, q, *_m) in zip(labels, spec_s):
                    if q == "+":
                        assert row[f"n_{nm}"] == exp[f"n_{nm}"], (spec_s, trial, nm)
                n_shape += 1
    assert n_shape >= 60


def test_pattern_machine_unless_fuzz():
    """`a b+ d? c UNLESS x` across micro-batch splits: abort voids later
    hits, bounds consumption/observation, kills or closes within the
    abort's settle pass — vs the batch model."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(53)
    spec = [("a", "1"), ("b", "+"), ("d", "?"), ("c", "1")]
    n_emitted = n_aborted_effect = 0
    for trial in range(300):
        n = rng.randint(1, 30)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abcdxy"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b", l == "d", l == "c"), v, l == "x")
                 for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=300)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 5)))
        got = _drive_pattern(spec, 300, events, cuts, unless_label="x")
        if not exp["completed"]:
            assert got is None, (trial, exp)
            if any(a for *_x, a in flags):
                n_aborted_effect += 1
            continue
        assert got is not None, (trial, exp)
        row, base = got
        ts = lambda x: base + pd.Timedelta(seconds=x) if x is not None else None
        for nm in ("a", "b", "d", "c"):
            g, e = row[f"t_{nm}"], ts(exp[f"t_{nm}"])
            if e is None:
                assert pd.isna(g), (trial, nm, g)
            else:
                assert g == e, (trial, nm, g, e)
        assert row["n_b"] == exp["n_b"], (trial, row["n_b"], exp["n_b"])
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
    assert n_emitted >= 20 and n_aborted_effect >= 20


def test_pattern_machine_unless_trailing_fuzz():
    """Trailing-open `a b+ UNLESS x`: the abort CLOSES the trailing
    window early (emission at the abort's settle pass, consumption
    strictly before it) — vs the batch model."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(59)
    spec = [("a", "1"), ("b", "+")]
    n_emitted = n_closed_by_abort = 0
    for trial in range(300):
        n = rng.randint(1, 20)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abbx"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b"), v, l == "x") for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=150)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 4)))
        got = _drive_pattern(spec, 150, events, cuts, unless_label="x")
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        assert row["t_a"] == base + pd.Timedelta(seconds=exp["t_a"]), trial
        assert row["t_b"] == base + pd.Timedelta(seconds=exp["t_b"]), trial
        assert row["n_b"] == exp["n_b"], (trial, row["n_b"], exp["n_b"])
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
        if any(a for *_x, a in flags):
            n_closed_by_abort += 1
    assert n_emitted >= 40 and n_closed_by_abort >= 10


# ---------------------------------------------------------------------------
# Buffering machines (merge, lookup, shift_to, shift_until): Spark-free
# feeds vs brute-force models
# ---------------------------------------------------------------------------
_BASE = pd.Timestamp(2024, 1, 1)
_ARROW = {
    "double": pa.float64(), "string": pa.string(), "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us"), "bigint": pa.int64(),
}
_SPARK = {
    "double": T.DoubleType(), "string": T.StringType(), "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(), "bigint": T.LongType(),
}
# payload dtypes: "native" ones survive pandas as-is; "lossy" ones are the
# nullable timestamp (NaT) and the nullable bigint beyond 2**53
_PAYLOADS = {
    "native": ("double", "string", "boolean"),
    "lossy": ("timestamp", "bigint"),
}


def _payload_value(dtype, draw):
    if draw == 0:
        return None
    return {
        "double": float(draw) / 4,
        "string": "abc"[draw % 3] * draw,
        "boolean": draw % 2 == 0,
        "timestamp": (_BASE + pd.Timedelta(minutes=draw)).to_pydatetime(),
        "bigint": (2**53 + draw) * (-1) ** draw,
    }[dtype]


def _wire(dtype):
    """The Arrow type a machine's payload column arrives as: integral
    payloads ride as strings."""
    return pa.string() if dtype == "bigint" else _ARROW[dtype]


def _to_pdf(cols):
    """{name: (arrow type, values)} -> pandas, the way Spark hands a
    micro-batch to a pandas UDF (nullable ints as float64, NaT, ...)."""
    arrays = {}
    for n, (at, vals) in cols.items():
        if at == pa.string():
            vals = [v if v is None or isinstance(v, str) else str(v) for v in vals]
        arrays[n] = pa.array(vals, type=at)
    return pa.table(arrays).to_pandas(coerce_temporal_nanoseconds=True)


def _from_pdf(pdf, types):
    """Machine output -> python rows, converted through Arrow to the
    declared output types (a value of the wrong type fails here)."""
    if pdf is None or not len(pdf):
        return []
    cols = []
    for n, at in types.items():
        ser = pdf[n]
        arr = pa.Array.from_pandas(ser, mask=ser.isnull().to_numpy(), type=at)
        cols.append(arr.to_pylist())
    return list(zip(*cols))


def _ts(sec):
    return (_BASE + pd.Timedelta(seconds=sec)).to_pydatetime()


def _feed(fn, key, events, arrival, cuts, to_pdf):
    """Feed ``events`` in ``arrival`` order, cut into micro-batches at
    ``cuts``; the watermark before each batch lags the fed maximum by at
    least one batch and stays behind every row still to come (rows
    arrive out of order, but never behind the watermark). A final call
    with a far-future watermark flushes everything settleable."""
    order = [events[i] for i in arrival]
    bounds = sorted({min(c, len(order)) for c in cuts} | {0, len(order)})
    batches = [order[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    state, outs, fed_max = FakeState(), [], None
    for j, batch in enumerate(batches):
        future = min(e["t"] for b in batches[j:] for e in b)
        lag = fed_max if fed_max is not None else -1
        state.wm_ms = max(int(pd.Timestamp(_ts(min(lag, future))).value) // 10**6 - 1, 0)
        outs.extend(fn(key, iter([to_pdf(batch)]), state))
        fed_max = max(e["t"] for e in batch) if fed_max is None else max(
            fed_max, max(e["t"] for e in batch))
    state.wm_ms = int((_BASE + pd.Timedelta(days=1)).value) // 10**6
    outs.extend(fn(key, iter([]), state))
    return outs, state


_FEEDS = ("one_batch", "row_per_batch", "random_cuts")


def _cuts(feed, n, rnd_cuts):
    if feed == "one_batch":
        return []
    if feed == "row_per_batch":
        return list(range(n + 1))
    return rnd_cuts


def _arrival(events, jitter):
    """Arrival order: sorted by time plus a per-row jitter (seconds)."""
    return sorted(range(len(events)),
                  key=lambda i: (events[i]["t"] + jitter[i % len(jitter)], i))


def _gen_events(data, kinds, n_max=18):
    """Rows as dicts: t (seconds), s (unique subsort), kind, payload draw."""
    n = data.draw(st.integers(0, n_max))
    return [
        {
            "t": data.draw(st.integers(0, 12)),
            "s": 10 * i,
            "kind": data.draw(st.sampled_from(kinds)),
            "draws": data.draw(st.lists(st.integers(0, 3), min_size=4, max_size=4)),
            "delta": data.draw(st.sampled_from((0, 1, 3, 7))),
        }
        for i in range(n)
    ]


def _payload(e, dtypes, side=0):
    return {d: _payload_value(d, e["draws"][(j + side) % 4]) for j, d in enumerate(dtypes)}


# --- shift_to --------------------------------------------------------------
def _shift_to_fn(dtypes):
    from kaskada_spark.streaming.shift import _make_shift_fn

    return _make_shift_fn({d: _SPARK[d] for d in dtypes})


def _shift_to_pdf(dtypes):
    from kaskada_spark.streaming.shift import _TARGET

    def mk(batch):
        return _to_pdf({
            TIME: (pa.timestamp("us"), [_ts(e["t"]) for e in batch]),
            SUBSORT: (pa.int64(), [e["s"] for e in batch]),
            KEY: (pa.string(), ["e"] * len(batch)),
            **{d: (_wire(d), [_payload(e, dtypes)[d] for e in batch]) for d in dtypes},
            _TARGET: (pa.timestamp("us"), [_ts(e["t"] + e["delta"]) for e in batch]),
        })
    return mk


def _shift_to_model(events, dtypes):
    rows = sorted(events, key=lambda e: (e["t"] + e["delta"], e["t"], e["s"]))
    return [(_ts(e["t"] + e["delta"]), e["s"], "e", *_payload(e, dtypes).values())
            for e in rows]


# --- shift_until -----------------------------------------------------------
def _shift_until_fn(dtypes):
    from kaskada_spark.streaming.shift import _make_shift_until_fn

    return _make_shift_until_fn({d: _SPARK[d] for d in dtypes})


def _shift_until_pdf(dtypes):
    from kaskada_spark.streaming.shift import _PRED

    def mk(batch):
        return _to_pdf({
            TIME: (pa.timestamp("us"), [_ts(e["t"]) for e in batch]),
            SUBSORT: (pa.int64(), [e["s"] for e in batch]),
            KEY: (pa.string(), ["e"] * len(batch)),
            **{d: (_wire(d), [_payload(e, dtypes)[d] for e in batch]) for d in dtypes},
            _PRED: (pa.bool_(), [e["kind"] == "fire" for e in batch]),
        })
    return mk


def _shift_until_model(events, dtypes):
    rows = sorted(events, key=lambda e: (e["t"], e["s"]))
    out = []
    for i, e in enumerate(rows):
        fire = next((f for f in rows[i:] if f["kind"] == "fire"), None)
        if fire is not None:
            out.append((_ts(fire["t"]), e["s"], "e", *_payload(e, dtypes).values()))
    return out


# --- as-of lookup ----------------------------------------------------------
def _lookup_fn(dtypes):
    from kaskada_spark.streaming.join import _make_lookup_fn

    return _make_lookup_fn(T.LongType(), {d: _SPARK[d] for d in dtypes})


def _split_sides(events, a, b):
    """Expand rows of kind "both" into one row per side at the same
    (t, s) — the coincident-instant tie rule."""
    out = []
    for e in events:
        for side in ((a, b) if e["kind"] == "both" else (e["kind"],)):
            out.append({**e, "kind": side})
    return out


def _lookup_key(e):
    return 2**53 + 1 + e["s"]


def _lookup_pdf(dtypes):
    from kaskada_spark.streaming.join import _IS_REQ, _ORIG

    def mk(batch):
        req = [e["kind"] == "req" for e in batch]
        return _to_pdf({
            KEY: (pa.string(), ["e"] * len(batch)),
            TIME: (pa.timestamp("us"), [_ts(e["t"]) for e in batch]),
            SUBSORT: (pa.int64(), [e["s"] for e in batch]),
            _ORIG: (pa.string(), [str(_lookup_key(e)) if r else None
                                  for e, r in zip(batch, req)]),
            _IS_REQ: (pa.bool_(), req),
            **{f"__f_{d}": (_wire(d), [None if r else _payload(e, dtypes)[d]
                                       for e, r in zip(batch, req)])
               for d in dtypes},
        })
    return mk


def _lookup_model(events, dtypes):
    snap = {d: None for d in dtypes}
    out = []
    for e in sorted(events, key=lambda e: (e["t"], e["s"], e["kind"] == "req")):
        if e["kind"] == "req":
            out.append((_lookup_key(e), _ts(e["t"]), e["s"], *snap.values()))
        else:
            snap = _payload(e, dtypes)  # a null foreign value overwrites
    return out


# --- merge-align -----------------------------------------------------------
def _merge_cols(dtypes):
    return [f"{d}_l" for d in dtypes], [f"{d}_r" for d in dtypes]


def _merge_as_of(dtypes):
    lout, rout = _merge_cols(dtypes)
    return [lout[0], rout[-1]]


def _merge_fn(dtypes):
    from kaskada_spark.streaming.merge import _make_merge_fn

    lout, rout = _merge_cols(dtypes)
    return _make_merge_fn({c: _SPARK[d] for c, d in zip(lout, dtypes)},
                          {c: _SPARK[d] for c, d in zip(rout, dtypes)},
                          _merge_as_of(dtypes))


def _merge_row_values(e, dtypes):
    lout, rout = _merge_cols(dtypes)
    vals = dict.fromkeys(lout + rout)
    if e["kind"] == "left":
        vals.update(zip(lout, _payload(e, dtypes).values()))
    else:
        vals.update(zip(rout, _payload(e, dtypes, side=1).values()))
    return vals


def _merge_pdf(dtypes):
    from kaskada_spark.streaming.merge import _SIDE

    lout, rout = _merge_cols(dtypes)

    def mk(batch):
        vals = [_merge_row_values(e, dtypes) for e in batch]
        return _to_pdf({
            KEY: (pa.string(), ["e"] * len(batch)),
            TIME: (pa.timestamp("us"), [_ts(e["t"]) for e in batch]),
            SUBSORT: (pa.int64(), [e["s"] for e in batch]),
            _SIDE: (pa.bool_(), [e["kind"] == "left" for e in batch]),
            **{c: (_wire(c.rsplit("_", 1)[0]), [v[c] for v in vals])
               for c in lout + rout},
        })
    return mk


def _merge_model(events, dtypes):
    lout, rout = _merge_cols(dtypes)
    fused = {}
    for e in events:
        row = fused.setdefault((e["t"], e["s"]), dict.fromkeys(lout + rout))
        for c, v in _merge_row_values(e, dtypes).items():
            if (c in lout) == (e["kind"] == "left"):
                row[c] = v
    latch = dict.fromkeys(_merge_as_of(dtypes))
    out = []
    for (t, s), row in sorted(fused.items()):
        for c in latch:  # as_of latches skip nulls
            latch[c] = row[c] if row[c] is not None else latch[c]
            row[c] = latch[c]
        out.append(("e", _ts(t), s, *row.values()))
    return out


_MACHINES = {
    # name: (update fn, pdf maker, model, row kinds, key, output columns)
    "shift_to": (_shift_to_fn, _shift_to_pdf, _shift_to_model, ("row",), ("e",),
                 lambda ds: [TIME, SUBSORT, KEY, *ds]),
    "shift_until": (_shift_until_fn, _shift_until_pdf, _shift_until_model,
                    ("row", "fire"), ("e",), lambda ds: [TIME, SUBSORT, KEY, *ds]),
    "lookup": (_lookup_fn, _lookup_pdf, _lookup_model, ("req", "for", "both"), ("e",),
               lambda ds: [KEY, TIME, SUBSORT, *ds]),
    "merge": (_merge_fn, _merge_pdf, _merge_model, ("left", "right", "both"), ("e",),
              lambda ds: [KEY, TIME, SUBSORT, *sum(_merge_cols(ds), [])]),
}


def _out_types(machine, dtypes):
    cols = _MACHINES[machine][5](dtypes)
    types = {TIME: pa.timestamp("us"), SUBSORT: pa.int64(),
             KEY: pa.int64() if machine == "lookup" else pa.string()}
    for c in cols:
        if c not in types:
            types[c] = _ARROW[c.rsplit("_", 1)[0] if machine == "merge" else c]
    return {c: types[c] for c in cols}


def _expand(machine, events):
    if machine == "lookup":
        return _split_sides(events, "for", "req")
    if machine == "merge":
        return _split_sides(events, "left", "right")
    return events


@pytest.mark.parametrize("payload", sorted(_PAYLOADS))
@pytest.mark.parametrize("machine", sorted(_MACHINES))
@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_buffering_machine_feeds_match_model(machine, payload, data):
    """Every buffering machine, fed one batch, one row per batch, or at
    random cuts — rows out of order within the watermark delay, nulls
    in every payload dtype — emits exactly the brute-force model's
    rows, in order."""
    dtypes = _PAYLOADS[payload]
    _fn, _pdf, model, kinds, _key, _cols = _MACHINES[machine]
    events = _gen_events(data, kinds)
    jitter = data.draw(st.lists(st.integers(0, 4), min_size=1, max_size=8))
    rnd_cuts = data.draw(st.lists(st.integers(0, 40), max_size=6))
    # lookup/merge "both" rows expand to one row per side
    events = _expand(machine, events)
    expected = model(events, dtypes)
    for feed in _FEEDS:
        outs, _state = _feed(_fn(dtypes), _key, events, _arrival(events, jitter),
                             _cuts(feed, len(events), rnd_cuts), _pdf(dtypes))
        got = [r for o in outs for r in _from_pdf(o, _out_types(machine, dtypes))]
        assert got == expected, feed


def _ev(t, s, kind="row", delta=0, draws=(1, 2, 3, 1)):
    return {"t": t, "s": s, "kind": kind, "draws": list(draws), "delta": delta}


# per machine: calls of (rows, watermark seconds); the straggler lands
# exactly on the high-water the first settle leaves behind
_STRAGGLER_CASES = {
    "shift_to": ([([_ev(0, 0, delta=5), _ev(1, 10, delta=3)], 0),
                  ([_ev(6, 20)], 5)], _ev(5, 30)),
    "shift_until": ([([_ev(0, 0), _ev(2, 20, "fire"), _ev(3, 30)], 2)],
                    _ev(2, 20, draws=(2, 2, 2, 2))),
    "lookup": ([([_ev(0, 0, "for"), _ev(2, 10, "req")], 2)],
               _ev(2, 20, "for", draws=(3, 3, 3, 3))),
    "merge": ([([_ev(0, 0, "left"), _ev(2, 10, "right")], 2)],
              _ev(2, 20, "left", draws=(3, 3, 3, 3))),
}
_AFTER = {  # rows fed after the straggler, so a wrongly kept one shows
    "shift_to": [_ev(7, 40)],
    "shift_until": [_ev(4, 40), _ev(5, 50, "fire")],
    "lookup": [_ev(3, 40, "req")],
    "merge": [_ev(3, 40, "right")],
}


@pytest.mark.parametrize("machine", sorted(_MACHINES))
def test_buffering_machine_drops_row_on_settled_high_water(machine):
    """A row landing exactly on the settled high-water — possible at
    exactly the watermark, which Spark does not drop upstream — is
    dropped, and nothing else changes: output and final state equal the
    same feed without it."""
    dtypes = _PAYLOADS["native"]
    make_fn, make_pdf, *_ = _MACHINES[machine]
    calls, straggler = _STRAGGLER_CASES[machine]
    wm_hw = calls[-1][1]

    def run(with_straggler):
        fn, mk, state, outs = make_fn(dtypes), make_pdf(dtypes), FakeState(), []
        late = [straggler] if with_straggler else []
        feed = calls + [(late, wm_hw), (_AFTER[machine], wm_hw), ([], 10**5)]
        for rows, wm_s in feed:
            state.wm_ms = int(pd.Timestamp(_ts(wm_s)).value) // 10**6
            outs.extend(fn(("e",), iter([mk(rows)] if rows else []), state))
        return [r for o in outs for r in _from_pdf(o, _out_types(machine, dtypes))], state

    base_rows, base_state = run(False)
    rows, state = run(True)
    assert base_rows and rows == base_rows
    assert state.get == base_state.get and state.timeout_ms == base_state.timeout_ms
