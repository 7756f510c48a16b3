"""Streaming temporal merge-align of two entity-keyed streams.

The reference's Merge operation — its only binary operator — union-
aligns two sorted streams onto one row domain and spreads each side's
columns with null (discrete) or as-of (latched) interpolation
(operation/merge.rs:27-46, spread.rs:363-430). The batch lowering is a
full outer join + fill window (operators/merge.py); live, both streams
are tagged, unioned and shuffled once on the entity, and rows wait in
the settling buffer (streaming/buffer.py) until the combined watermark
passes them. Settling fuses coincident left/right rows on (time,
subsort) into one output row (the full-outer-join-on-triple rule) and
forward-fills ``as_of`` columns from per-entity latches carried in
state; all other columns stay null at rows from the other side.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from kaskada_spark.prepare import KEY, SUBSORT, TIME
from kaskada_spark.streaming.buffer import (
    BufferSpec, apply_by_key, arm, carry, restore, ship, transport,
)

_SIDE = "__side"


def merge_align_stream(
    left: DataFrame,
    right: DataFrame,
    as_of: Sequence[str] = (),
    suffixes: tuple[str, str] = ("_l", "_r"),
    watermark: str = "0 seconds",
) -> DataFrame:
    """Union-align two streaming timeline frames (universal shape).

    Output: one row per distinct (entity, time, subsort) across both
    inputs, left columns then right columns (overlaps suffixed),
    ``as_of`` columns latched per entity — identical rows to the batch
    ``operators/merge.py`` on the same data.
    """
    lcols = [c for c in left.columns if c not in (KEY, TIME, SUBSORT)]
    rcols = [c for c in right.columns if c not in (KEY, TIME, SUBSORT)]
    overlap = set(lcols) & set(rcols)
    lmap = {c: (c + suffixes[0] if c in overlap else c) for c in lcols}
    rmap = {c: (c + suffixes[1] if c in overlap else c) for c in rcols}
    ltypes = {lmap[c]: left.schema[c].dataType for c in lcols}
    rtypes = {rmap[c]: right.schema[c].dataType for c in rcols}
    for c in as_of:
        if c not in {**ltypes, **rtypes}:
            raise ValueError(f"as_of column {c!r} not in merged output")
    # output column -> (from the left side?, source column)
    source = {**{lmap[c]: (True, c) for c in lcols}, **{rmap[c]: (False, c) for c in rcols}}
    types = {**ltypes, **rtypes}

    def tagged(frame: DataFrame, is_left: bool) -> DataFrame:
        return frame.withWatermark(TIME, watermark).select(
            KEY, TIME, SUBSORT, F.lit(is_left).alias(_SIDE),
            *[ship(F.col(c) if mine == is_left else F.lit(None), types[n]).alias(n)
              for n, (mine, c) in source.items()],
        )

    out_schema = T.StructType(
        [
            T.StructField(KEY, left.schema[KEY].dataType),
            T.StructField(TIME, T.TimestampType()),
            T.StructField(SUBSORT, T.LongType()),
        ]
        + [T.StructField(n, dt) for n, dt in types.items()]
    )
    state_schema = T.StructType(
        _merge_spec(types).fields()
        + [T.StructField(f"latch_{c}", transport(types[c])) for c in as_of]
    )
    func = _make_merge_fn(ltypes, rtypes, list(as_of))
    return apply_by_key(
        tagged(left, True).unionByName(tagged(right, False)), func, out_schema, state_schema
    )


def _merge_spec(types: dict) -> BufferSpec:
    return BufferSpec(
        {"t": T.LongType(), "s": T.LongType(), "is_l": T.BooleanType()}, types, time_only=True
    )


def _make_merge_fn(ltypes: dict, rtypes: dict, as_of: list[str]):
    types = {**ltypes, **rtypes}
    spec = _merge_spec(types)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf, latches = spec.load(state)
        latches = list(latches or [None] * len(as_of))
        for pdf in pdfs:
            if len(pdf):
                buf.absorb(pdf, is_l=pdf[_SIDE].to_numpy(bool))
        n = buf.settle(state.getCurrentWatermarkMs() * 10**6)
        out = None
        if n:
            rows = buf.pop(n)
            t, s, is_l = rows["t"], rows["s"], rows["is_l"]
            # fuse coincident (t, s) rows: one output row per group
            first = np.r_[True, (t[1:] != t[:-1]) | (s[1:] != s[:-1])]
            group = np.cumsum(first) - 1
            vals = {}
            for names, side in ((ltypes, is_l), (rtypes, ~is_l)):
                for c in names:
                    col = np.full(int(group[-1]) + 1, None, dtype=object)
                    col[group[side]] = rows[f"p_{c}"][side]
                    vals[c] = col
            for i, c in enumerate(as_of):
                # as-of latches skip nulls
                vals[c] = carry(vals[c], pd.notna(vals[c]), latches[i])
                latches[i] = vals[c][-1]
            out = pd.DataFrame(
                {
                    KEY: key[0],
                    TIME: pd.to_datetime(t[first]),
                    SUBSORT: s[first],
                    **{c: restore(vals[c], dt) for c, dt in types.items()},
                }
            )
        spec.save(state, buf, tuple(latches))
        arm(state, buf.cols["t"])
        if out is not None:
            yield out

    return update
