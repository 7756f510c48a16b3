"""Streaming shift_to / shift_by / shift_until: state-buffered re-timing.

The reference's ShiftTo moves rows forward to a computed future time,
buffering them until the stream reaches it (operation/shift_to.rs:28-60
— including its PERFORMANCE note about unbounded buffering); ShiftUntil
holds rows until the entity's next predicate firing
(operation/shift_until.rs). Rows wait in the settling buffer
(streaming/buffer.py): the watermark is exactly the "stream has reached
this time" signal, and event-time timeouts flush silent entities.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from kaskada_spark.prepare import KEY, SUBSORT, TIME
from kaskada_spark.streaming.buffer import (
    BufferSpec, apply_by_key, arm, restore, ship, time_ns,
)

_TARGET = "__shift_target"
_PRED = "__shift_pred"


def _shift_plan(tdf: DataFrame, marker: Column, spec_of):
    """Select + schemas shared by both machines: payload columns ride in
    their transport type, ``marker`` (target or predicate) beside them."""
    payload = {c: tdf.schema[c].dataType for c in tdf.columns if c not in (TIME, SUBSORT, KEY)}
    frame = tdf.select(
        TIME, SUBSORT, KEY, *[ship(F.col(c), dt).alias(c) for c, dt in payload.items()], marker
    )
    out_schema = T.StructType(
        [
            T.StructField(TIME, T.TimestampType()),
            T.StructField(SUBSORT, T.LongType()),
            T.StructField(KEY, tdf.schema[KEY].dataType),
        ]
        + [tdf.schema[c] for c in payload]
    )
    return frame, payload, out_schema, T.StructType(spec_of(payload).fields())


def _emit(k, t: np.ndarray, rows: dict, payload: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {
            TIME: pd.to_datetime(t),
            SUBSORT: rows["s"],
            KEY: k,
            **{c: restore(rows[f"p_{c}"], dt) for c, dt in payload.items()},
        }
    )


def shift_to_stream(
    tdf: DataFrame,
    new_time: Column,
    watermark: str = "0 seconds",
    max_buffered_rows: int | None = None,
) -> DataFrame:
    """Re-time each row to ``new_time`` (>= its current time), emitting
    it once the watermark passes the target. Output keeps the universal
    shape with ``_time`` = the target time. Null or backward targets are
    dropped before the stateful stage (same rule as operators/shift.py).

    ``max_buffered_rows`` is the guard for the reference's documented
    unbounded-buffering hazard (shift_to.rs PERFORMANCE note): targets
    running far ahead of the watermark hold rows in state. When set,
    an entity whose buffer would exceed the cap fails the query with a
    clear error instead of growing state silently — fail-fast
    backpressure; dropping would silently change results."""
    tdf = tdf.withWatermark(TIME, watermark)
    target = new_time.cast("timestamp")
    frame, payload, out_schema, state_schema = _shift_plan(
        tdf.filter(target.isNotNull() & (target >= F.col(TIME))),
        target.alias(_TARGET),
        _shift_to_spec,
    )
    return apply_by_key(
        frame, _make_shift_fn(payload, max_buffered_rows), out_schema, state_schema
    )


def shift_by_stream(
    tdf: DataFrame, delta, watermark: str = "0 seconds",
    max_buffered_rows: int | None = None,
) -> DataFrame:
    """shift_by(delta) = shift_to(time + delta) (the reference's own
    rewrite, functions/time.rs:44-63)."""
    return shift_to_stream(
        tdf, F.col(TIME) + delta, watermark=watermark,
        max_buffered_rows=max_buffered_rows,
    )


def shift_until_stream(
    tdf: DataFrame,
    predicate: Column,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming shift_until: buffer each row per entity until the first
    at-or-later row where ``predicate`` fires, then emit all buffered
    rows at that row's time (original subsorts kept — matches the batch
    operator exactly). Rows whose firing hasn't arrived stay in state
    (the reference holds them to end-of-input)."""
    tdf = tdf.withWatermark(TIME, watermark)
    frame, payload, out_schema, state_schema = _shift_plan(
        tdf, F.coalesce(predicate, F.lit(False)).alias(_PRED), _shift_until_spec
    )
    return apply_by_key(frame, _make_shift_until_fn(payload), out_schema, state_schema)


def _shift_to_spec(payload: dict) -> BufferSpec:
    # t is the target; coincident targets keep their original order
    keys = {"t": T.LongType(), "s": T.LongType(), "ot": T.LongType()}
    return BufferSpec(keys, payload, time_only=True)


def _shift_until_spec(payload: dict) -> BufferSpec:
    return BufferSpec({"t": T.LongType(), "s": T.LongType(), "pred": T.BooleanType()}, payload)


def _make_shift_fn(payload: dict, max_buffered_rows: int | None = None):
    spec = _shift_to_spec(payload)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf, _ = spec.load(state)
        for pdf in pdfs:
            if len(pdf):
                buf.absorb(pdf, t=time_ns(pdf, _TARGET), ot=time_ns(pdf))
            if max_buffered_rows is not None and len(buf) > max_buffered_rows:
                raise RuntimeError(
                    f"shift_to buffer for entity {key[0]!r} exceeded "
                    f"max_buffered_rows={max_buffered_rows} "
                    f"({len(buf)} rows in flight) — targets are "
                    "running too far ahead of the watermark"
                )
        rows = buf.pop(buf.settle(state.getCurrentWatermarkMs() * 10**6, ("t", "ot", "s")))
        spec.save(state, buf)
        arm(state, buf.cols["t"])
        if len(rows["t"]):
            yield _emit(key[0], rows["t"], rows, payload)

    return update


def _make_shift_until_fn(payload: dict):
    spec = _shift_until_spec(payload)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf, _ = spec.load(state)
        for pdf in pdfs:
            if len(pdf):
                buf.absorb(pdf, pred=pdf[_PRED].to_numpy(bool))
        # rows up to the last settled firing emit, each at the first
        # firing at or after it
        n = buf.settle(state.getCurrentWatermarkMs() * 10**6)
        fired = np.flatnonzero(buf.cols["pred"][:n])
        rows = buf.pop(fired[-1] + 1 if len(fired) else 0)
        spec.save(state, buf)
        arm(state, buf.cols["t"][buf.cols["pred"]])
        if len(rows["t"]):
            m = len(rows["t"])
            nxt = np.minimum.accumulate(np.where(rows["pred"], np.arange(m), m)[::-1])[::-1]
            yield _emit(key[0], rows["t"][nxt], rows, payload)

    return update
