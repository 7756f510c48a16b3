"""One settling buffer for the streaming machines.

Every machine that holds rows until the watermark passes them (merge,
lookup, shift_to, shift_until, the CEP funnel and pattern machines)
shares this module's rules, the reference's bounded-lateness reader
(read/stream_reader.rs:47) and ShiftTo buffer (operation/shift_to.rs):

- **transport**: integral payload columns ride as strings from the
  Spark select, through state, and back to their declared type
  (nullable ints cross Arrow->pandas as float64, corrupting values
  beyond 2**53); every other column rides natively;
- **null coercion**: a missing payload value is ``None`` whether it
  arrives as None, NaN, NaT or pd.NA;
- **straggler drop**: a row at-or-behind the settled high-water
  ``(hw_t, hw_s)`` is dropped — output through it was already emitted,
  and Spark keeps rows at exactly the watermark. Machines whose buffer
  key is a time only pin ``hw_s`` to ``2**63 - 1`` (``t <= hw_t``);
- **settle**: rows sort on the machine's key columns; the prefix at or
  before the watermark settles, and the high-water moves to the last
  row a machine takes;
- **timer**: wake 1 ms before the earliest pending instant — Spark
  fires event-time timers only when the watermark moves STRICTLY past
  the timestamp — and never at or behind the current watermark.

State layout: one array per buffered column, then ``hw_t``, ``hw_s``,
then the machine's own fields.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kaskada_spark.prepare import KEY, SUBSORT, TIME

INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
NEG = -(2**63)
TIME_ONLY = 2**63 - 1
_NATIVE = {T.LongType: np.int64, T.BooleanType: np.bool_, T.DoubleType: np.float64}


def transport(dt: T.DataType) -> T.DataType:
    """The type a payload column rides in: integral types as strings."""
    return T.StringType() if isinstance(dt, INTEGRAL) else dt


def ship(col: Column, dt: T.DataType) -> Column:
    return col.cast(transport(dt))


def nulls_to_none(ser: pd.Series) -> np.ndarray:
    """Object array of a payload column, every missing value None."""
    out = ser.to_numpy(dtype=object, copy=True)
    out[pd.isna(ser).to_numpy(dtype=bool)] = None
    return out


def restore(values: np.ndarray, dt: T.DataType) -> pd.Series:
    """A transported payload column back in its declared type."""
    if isinstance(dt, INTEGRAL):
        return pd.Series([None if v is None else int(v) for v in values], dtype=object)
    if isinstance(dt, T.TimestampType):
        return pd.Series(pd.to_datetime(pd.Series(values, dtype=object)))
    return pd.Series(values, dtype=object)


def time_ns(pdf: pd.DataFrame, col: str = TIME) -> np.ndarray:
    return pdf[col].astype("int64").to_numpy()


def carry(values: np.ndarray, mask: np.ndarray, seed) -> np.ndarray:
    """Per row, ``values`` at the last row at or before it where ``mask``
    holds; ``seed`` (the value carried in from earlier calls) before the
    first one."""
    pos = np.maximum.accumulate(np.where(mask, np.arange(len(mask)), -1))
    out = values[np.maximum(pos, 0)]
    out[pos < 0] = seed
    return out


def arm(state: GroupState, reach_ns) -> None:
    """The one timer rule, over the instants a machine waits for."""
    if len(reach_ns):
        state.setTimeoutTimestamp(
            max(int(np.min(reach_ns)) // 10**6 - 1, state.getCurrentWatermarkMs() + 1)
        )


def apply_by_key(frame: DataFrame, func, out_schema, state_schema) -> DataFrame:
    return frame.groupBy(KEY).applyInPandasWithState(
        func, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


class BufferSpec:
    """One machine's buffered columns and their state codec.

    ``keys`` are native, never-null columns (Long/Boolean/Double), with
    the buffer time ``t`` and subsort ``s`` first; ``payload`` columns
    are nullable and given in their declared types (they ride in their
    transport type)."""

    def __init__(self, keys: dict, payload: dict | None = None, time_only: bool = False):
        self.keys = {n: _NATIVE[type(dt)] for n, dt in keys.items()}
        self.types = {**keys, **{f"p_{n}": transport(dt) for n, dt in (payload or {}).items()}}
        self.hw_s = TIME_ONLY if time_only else None

    def fields(self) -> list[T.StructField]:
        return [T.StructField(f"b_{n}", T.ArrayType(dt)) for n, dt in self.types.items()] + [
            T.StructField("hw_t", T.LongType()),
            T.StructField("hw_s", T.LongType()),
        ]

    def load(self, state: GroupState) -> tuple["Buffer", tuple | None]:
        """The buffer and the machine's own fields (None: no state yet)."""
        if not state.exists:
            cols = {n: np.empty(0, dtype=self.keys.get(n, object)) for n in self.types}
            return Buffer(self, cols, NEG, NEG), None
        v, n = state.get, len(self.types)
        cols = {
            name: np.fromiter(v[i] or (), dtype=self.keys.get(name, object))
            for i, name in enumerate(self.types)
        }
        return Buffer(self, cols, v[n], v[n + 1]), tuple(v[n + 2:])

    def save(self, state: GroupState, buf: "Buffer", extra: tuple = ()) -> None:
        state.update(
            (*(buf.cols[n].tolist() for n in self.types), int(buf.hw_t), int(buf.hw_s), *extra)
        )


class Buffer:
    """One entity's buffered rows, columnar."""

    def __init__(self, spec: BufferSpec, cols: dict, hw_t: int, hw_s: int):
        self.spec, self.cols, self.hw_t, self.hw_s = spec, cols, hw_t, hw_s

    def __len__(self) -> int:
        return len(self.cols["t"])

    def absorb(self, pdf: pd.DataFrame, **keys: np.ndarray) -> None:
        """Append the rows of ``pdf`` not at-or-behind the high-water: key
        columns given as arrays (``t`` defaults to the row time, ``s`` to
        its subsort), payload column ``c`` read from ``pdf[c]`` and kept
        as ``p_<c>``."""
        keys = {"t": time_ns(pdf), "s": pdf[SUBSORT].to_numpy(np.int64), **keys}
        t, s = keys["t"], keys["s"]
        fresh = (t > self.hw_t) | ((t == self.hw_t) & (s > self.hw_s))
        if not fresh.any():
            return
        for n in self.spec.types:
            new = keys[n] if n in self.spec.keys else nulls_to_none(pdf[n[2:]])
            self.cols[n] = np.concatenate([self.cols[n], new[fresh]])

    def settle(self, wm_ns: int, order: tuple = ("t", "s")) -> int:
        """Sort on ``order`` (``t`` first) and count the rows at or before
        the watermark."""
        perm = np.lexsort([self.cols[n] for n in reversed(order)])
        self.cols = {n: c[perm] for n, c in self.cols.items()}
        return int(np.searchsorted(self.cols["t"], wm_ns, side="right"))

    def pop(self, n: int) -> dict:
        """Take the first ``n`` rows; the high-water moves to the last."""
        head = {k: c[:n] for k, c in self.cols.items()}
        self.cols = {k: c[n:] for k, c in self.cols.items()}
        if n:
            self.hw_t = int(head["t"][-1])
            self.hw_s = self.spec.hw_s if self.spec.hw_s is not None else int(head["s"][-1])
        return head

    def clear(self) -> None:
        self.cols = {k: c[:0] for k, c in self.cols.items()}
