"""Seeded input generator: numpy + pyarrow straight to parquet.

It imports nothing from the system under test, so a change to the
program cannot change its own inputs. The same ``seed`` always writes
the same bytes.

Two products:

- ``write_suite_tables``: the ten tables the contract queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column names, types and value
  distributions of the project's synthetic test data, scaled by ``sf``.
- ``write_streams``: a primary stream shaped like ``events`` and a
  foreign stream shaped like ``orders``, both already in the universal
  timeline shape ``(_time, _subsort, _key, payload...)``, cut into one
  parquet file per micro-batch with increasing mtimes so the file
  source replays them in order. Both streams cover the same event-time
  span, so an as-of lookup always finds foreign rows to answer from.
  The payload carries no timestamp columns.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ORDER_STATUS = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_ADJ = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "new"])
PART_NOUN = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"])
PART_TYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"])
WORDS = np.array(
    "a the big small fast slow data query table row column value key join "
    "merge sort hash scan filter group agg order line part customer spark "
    "stream batch window vector".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
DIM = 64
US_PER_DAY = 86_400_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def _naive_ts(us: np.ndarray) -> pa.Array:
    # timezone-naive microseconds, as the project's test data stores them
    return pa.array(us.astype("datetime64[us]"))


def write_suite_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten contract tables for scale factor ``sf``; returns
    the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    n_line = max(50, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = min(2000, max(500, int(20_000 * sf)))
    i32 = pa.int32()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5), i32), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "), rng.choice(PART_NOUN, n_part))
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    o_day0 = _us("1995-01-01")
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _naive_ts(o_day0 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    l_day0 = _us("1995-01-02")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
            "l_shipdate": _naive_ts(l_day0 + rng.integers(0, 2499, n_line) * US_PER_DAY),
        }
    )
    ev_t = _us("2024-01-01") + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _naive_ts(ev_t),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    for name, table in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table)
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng, n: int) -> pa.Table:
    """Random word documents; one in twenty repeats an earlier document
    with ``" dup"`` appended, so dedup and similarity find work."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


@dataclass(frozen=True)
class StreamShape:
    """Shape of one generated primary/foreign stream pair."""

    entities: int
    batches: int
    primary_per_batch: int
    foreign_per_batch: int
    #: event time one micro-batch spans, in seconds
    batch_span_s: int
    #: share of primary ``value`` entries that are null
    null_rate: float = 0.05


@dataclass(frozen=True)
class StreamFiles:
    primary_dir: str
    foreign_dir: str
    primary_rows: int
    foreign_rows: int


STREAM_T0 = "2024-03-01"


def write_streams(out_dir: str, seed: int, shape: StreamShape) -> StreamFiles:
    """Write the primary (events-like) and foreign (orders-like) streams,
    one file per micro-batch per stream, event times aligned batch by
    batch: file ``i`` of either stream covers the same event-time
    slice."""
    rng = np.random.default_rng([seed, 2])
    t0 = _us(STREAM_T0)
    span = shape.batch_span_s * 1_000_000
    p_dir = os.path.join(out_dir, "primary")
    f_dir = os.path.join(out_dir, "foreign")
    os.makedirs(p_dir, exist_ok=True)
    os.makedirs(f_dir, exist_ok=True)
    # mtimes strictly increase in batch order (the file source orders by
    # mtime); they sit in the past so no file looks "still being written"
    mtime0 = time.time() - 10 * shape.batches - 60
    p_sub = 0
    # foreign subsorts live in their own range, so no primary row ever
    # shares a (time, subsort) pair with a foreign row
    f_sub = 1 << 40
    for b in range(shape.batches):
        lo = t0 + b * span
        n = shape.primary_per_batch
        t = lo + np.sort(rng.integers(0, span, n))
        value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
        primary = pa.table(
            {
                "_time": pa.array(t, pa.timestamp("us", tz="UTC")),
                "_subsort": np.arange(p_sub, p_sub + n, dtype=np.int64),
                "_key": rng.integers(0, shape.entities, n),
                "event_type": rng.choice(EVENT_TYPES, n),
                "value": pa.array(value, mask=rng.random(n) < shape.null_rate),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        )
        m = shape.foreign_per_batch
        ft = lo + np.sort(rng.integers(0, span, m))
        foreign = pa.table(
            {
                "_time": pa.array(ft, pa.timestamp("us", tz="UTC")),
                "_subsort": np.arange(f_sub, f_sub + m, dtype=np.int64),
                "_key": rng.integers(0, shape.entities, m),
                "o_orderstatus": rng.choice(ORDER_STATUS, m),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, m),
                "o_orderpriority": rng.choice(PRIORITIES, m),
            }
        )
        p_sub += n
        f_sub += m
        for d, table in ((p_dir, primary), (f_dir, foreign)):
            path = os.path.join(d, f"part-{b:05d}.parquet")
            _write(path, table)
            os.utime(path, (mtime0 + 10 * b, mtime0 + 10 * b))
    return StreamFiles(
        primary_dir=p_dir,
        foreign_dir=f_dir,
        primary_rows=p_sub,
        foreign_rows=f_sub - (1 << 40),
    )
