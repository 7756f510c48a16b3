"""Streaming entity-keyed as-of lookup join.

The reference's LookupRequest/LookupResponse pair
(operation/lookup_request.rs:25-32, lookup_response.rs:21-27) over live
streams. A request at time t may only be answered once no foreign row
with time <= t can still arrive; Spark's signal for that is the query
watermark (the min across both inputs). Requests (the primary re-keyed
by the foreign key) and foreign rows are unioned, shuffled once on the
foreign key, and wait in the settling buffer (streaming/buffer.py).
Settling walks them in (time, subsort, side) order — same-instant
foreign rows first, as in operators/lookup.py — and answers each
request with the values of the last foreign row at or before it (a
foreign null overwrites), else the per-key snapshot carried in state.

Output contract: one row per request — (requesting key, _time,
_subsort, *values). Join payload back on the order triple if needed.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from kaskada_spark.prepare import KEY, SUBSORT, TIME
from kaskada_spark.streaming.buffer import (
    BufferSpec, apply_by_key, arm, carry, restore, ship, transport,
)

_IS_REQ = "__is_req"
_ORIG = "__orig_key"


def asof_lookup_stream(
    primary: DataFrame,
    foreign: DataFrame,
    key: str | Column,
    values: Sequence[str],
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming as-of lookup: for each primary row, the foreign
    entity's latest ``values`` as of the row's (time, subsort).

    Both inputs are streaming frames in the universal shape; ``key`` is
    the foreign-key expression on the primary frame. Returns
    ``(_key, _time, _subsort, *values)`` — the requesting entity's key.
    """
    key_c = F.col(key) if isinstance(key, str) else key
    key_dt = primary.schema[KEY].dataType
    vtypes = {v: foreign.schema[v].dataType for v in values}

    req = primary.withWatermark(TIME, watermark).select(
        key_c.cast(foreign.schema[KEY].dataType).alias(KEY),
        TIME,
        SUBSORT,
        ship(F.col(KEY), key_dt).alias(_ORIG),
        F.lit(True).alias(_IS_REQ),
        *[ship(F.lit(None), dt).alias(f"__f_{v}") for v, dt in vtypes.items()],
    )
    dat = foreign.withWatermark(TIME, watermark).select(
        KEY,
        TIME,
        SUBSORT,
        ship(F.lit(None), key_dt).alias(_ORIG),
        F.lit(False).alias(_IS_REQ),
        *[ship(F.col(v), dt).alias(f"__f_{v}") for v, dt in vtypes.items()],
    )
    out_schema = T.StructType(
        [
            T.StructField(KEY, key_dt),
            T.StructField(TIME, T.TimestampType()),
            T.StructField(SUBSORT, T.LongType()),
        ]
        + [T.StructField(v, dt) for v, dt in vtypes.items()]
    )
    # the per-key snapshot: one scalar per value
    state_schema = T.StructType(
        _lookup_spec(key_dt, vtypes).fields()
        + [T.StructField(f"s_{v}", transport(dt)) for v, dt in vtypes.items()]
    )
    func = _make_lookup_fn(key_dt, vtypes)
    return apply_by_key(req.unionByName(dat), func, out_schema, state_schema)


def _lookup_spec(key_dt: T.DataType, vtypes: dict) -> BufferSpec:
    payload = {_ORIG: key_dt, **{f"__f_{v}": dt for v, dt in vtypes.items()}}
    return BufferSpec(
        {"t": T.LongType(), "s": T.LongType(), "req": T.BooleanType()}, payload, time_only=True
    )


def _make_lookup_fn(key_dt: T.DataType, vtypes: dict):
    spec = _lookup_spec(key_dt, vtypes)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf, snap = spec.load(state)
        snap = list(snap or [None] * len(vtypes))
        for pdf in pdfs:
            if len(pdf):
                buf.absorb(pdf, req=pdf[_IS_REQ].to_numpy(bool))
        rows = buf.pop(buf.settle(state.getCurrentWatermarkMs() * 10**6, ("t", "s", "req")))
        req = rows["req"]
        answers = {
            v: carry(rows[f"p___f_{v}"], ~req, snap[i]) for i, v in enumerate(vtypes)
        }
        if len(req):
            snap = [a[-1] for a in answers.values()]
        out = None
        if req.any():
            out = pd.DataFrame(
                {
                    KEY: restore(rows[f"p_{_ORIG}"][req], key_dt),
                    TIME: pd.to_datetime(rows["t"][req]),
                    SUBSORT: rows["s"][req],
                    **{v: restore(answers[v][req], dt) for v, dt in vtypes.items()},
                }
            )
        spec.save(state, buf, tuple(snap))
        arm(state, buf.cols["t"])
        if out is not None:
            yield out

    return update
