"""``suite`` workload: the contract queries, one at a time.

Closed loop, one client: each query is built, planned and executed to
completion before the next starts. Setup runs every query once with its
result collected and compared with the query's DuckDB twin from
``oracle_sql()`` (this pass is also the warm-up); the timed part then
runs a fixed number of passes over the same queries (``passes``, set by
``--seconds``), each query forced with a ``noop`` write, nothing
collected. It records each query's wall time (build + plan + execute)
and the CPU time of the process tree over each pass.

The traced run adds a pass that splits each query into build (with
py4j round trips and jobs started before the action counted), Catalyst
phases, and execution through ``qfr.flight_record``.
"""

from __future__ import annotations

import json
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pandas as pd

from tracing import Instrumentation, Py4jCounter, Tracer, job_group

#: Queries timed by the workload, in ``queries()`` order. The run budget
#: (see NOTES.md) allows five at four passes; these put work on every
#: batch layer: the heaviest py4j build (similarity), the most eager jobs
#: and a pandas UDF (dedup), Fenl compile with a lookup, an as-of join
#: and CEP. ``--all-queries`` times all of them instead.
SUITE = (
    "cosine_near_dup_banded",
    "lookup_asof",
    "cep_pattern",
    "dedup_clusters",
    "fenl_lookup_spread",
)

#: scale factor of the generated tables (row counts as the project's
#: ``sf0.01`` test data)
SF = 0.01


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------------------
# correctness: exact, order-insensitive comparison with the DuckDB twin
# ----------------------------------------------------------------------
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64") and getattr(df[c].dt, "tz", None):
            df[c] = df[c].dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def _is_null(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal: same columns, same row count, and per column the
    same numeric kind (int vs float) and exactly equal values."""
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        kinds = {"i", "u", "f"}
        if a.dtype.kind in kinds and b.dtype.kind in kinds and (
            (a.dtype.kind == "f") != (b.dtype.kind == "f")
        ):
            return f"column {c!r} numeric kind {a.dtype} != {b.dtype}"
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            for i, (x, y) in enumerate(zip(a, b)):
                xn, yn = _is_null(x), _is_null(y)
                if (xn or yn) and xn != yn or not (xn or yn) and float(x) != float(y):
                    return f"column {c!r} row {i}: {x!r} != {y!r}"
        else:
            eq = (a == b) | (a.isna() & b.isna())
            if not eq.all():
                i = int((~eq).values.argmax())
                return f"column {c!r} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


#: wall seconds a timed pass takes on a quiet 4-vCPU host in a fresh
#: session (about 7 s for the first, 5 s by the fourth): ``--seconds``
#: buys that many passes. A count, not a deadline: CPU per pass falls
#: while the JIT compiles, so under a deadline a run slowed by the host
#: would do fewer passes and report a higher mean.
PASS_S = 5.5


def passes(seconds: int) -> int:
    return max(2, math.ceil(seconds / PASS_S))


@dataclass
class Timed:
    #: per query, its wall time in every pass
    wall_s: dict[str, list[float]]
    #: per pass, CPU seconds of the process tree
    pass_cpu_s: list[float]
    #: CPU time the hypervisor gave to others meanwhile, all CPUs
    steal_ticks: int = 0

    def best_s(self) -> dict[str, float]:
        """Per query, its best wall time: the slower runs carry JIT,
        GC and CPU-steal noise of the moment."""
        return {n: min(v) for n, v in self.wall_s.items()}


class Suite:
    def __init__(self, ctx, all_queries: bool = False):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.entry = entry
        self.fns = entry.queries()
        self.names = list(self.fns) if all_queries else list(SUITE)
        self.sf_dir = os.path.join(ctx.work, "tables")
        self.failures: dict[str, str] = {}

    # -- setup: inputs + warm/check pass ---------------------------------
    def setup(self) -> None:
        """Write the tables, then run every query once, collected and
        compared with its DuckDB twin. The queries run on ``nproc``
        client threads: this pass is setup, not timed, and it also warms
        the JVM, codegen and the Python workers for the timed pass."""
        import duckdb

        from gen import write_suite_tables

        self.rows = write_suite_tables(self.sf_dir, self.ctx.seed, SF)
        oracles = self.entry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

        def check(name: str) -> str | None:
            try:
                got = self.fns[name](self.ctx.spark, self.sf_dir).toPandas()
                cur = con.cursor()
                try:
                    want = cur.sql(oracles[name]).df()
                finally:
                    cur.close()
                return mismatch(got, want)
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                return f"{type(e).__name__}: {str(e)[:300]}"

        try:
            with ThreadPoolExecutor(self.ctx.cpus) as pool:
                for name, err in zip(self.names, pool.map(check, self.names)):
                    if err:
                        self.failures[name] = err
        finally:
            con.close()

    # -- timed passes ------------------------------------------------------
    def measure(self) -> "Timed":
        """``passes(--seconds)`` passes over the queries, one query after
        another, each forced with a ``noop`` write. Records every query's
        wall time and the CPU time of the process tree over each pass. A
        query that failed its check is not timed."""
        import host

        spark = self.ctx.spark
        t = Timed({n: [] for n in self.names if n not in self.failures}, [])
        steal0 = host.steal_ticks()
        for _ in range(passes(self.ctx.seconds)):
            c0 = host.tree_cpu_s()
            for name, walls in t.wall_s.items():
                t0 = time.perf_counter()
                _noop(self.fns[name](spark, self.sf_dir))
                walls.append(time.perf_counter() - t0)
            t.pass_cpu_s.append(host.tree_cpu_s() - c0)
        t.steal_ticks = host.steal_ticks() - steal0
        return t

    # -- traced pass --------------------------------------------------------
    def traced(self, out_dir: str) -> tuple[dict[str, float], dict]:
        """One pass with every layer split out; returns per-query wall
        times of the pass and the per-layer summary. Writes the spans,
        the flight records of every query (one JSONL) and the per-query
        split with its top 3 operators."""
        from kaskada_spark.qfr import flight_record

        spark = self.ctx.spark
        tracer = Tracer()
        inst = Instrumentation(tracer)
        py4j = Py4jCounter(spark)
        qfr_path = os.path.join(out_dir, "suite_qfr.jsonl")
        per_query: dict[str, dict] = {}
        walls: dict[str, float] = {}
        inst.install()
        try:
            with open(qfr_path, "w") as qfr_fh:
                for name in self.names:
                    if name in self.failures:
                        continue
                    row = per_query[name] = {}
                    t0 = time.perf_counter()
                    with tracer.span("query", query=name) as q_span:
                        with tracer.span("build") as b_span:
                            with job_group(spark, f"perfbench-build-{name}") as jobs:
                                py4j.install()
                                try:
                                    df = self.fns[name](spark, self.sf_dir)
                                finally:
                                    py4j.remove()
                                row["eager_jobs"] = jobs()
                        row["build_s"] = b_span.dur
                        row["py4j_calls"] = py4j.calls
                        py4j.calls = 0
                        qe = df._jdf.queryExecution()
                        with tracer.span("plan"):
                            qe.executedPlan()
                        with tracer.span("execute") as e_span:
                            records = flight_record(df, request_id=name)
                        row["exec_s"] = e_span.dur
                    walls[name] = time.perf_counter() - t0
                    row["phases_ms"] = _phases(qe)
                    row.update(_exec_summary(records))
                    row["sources_s"], row["sources_calls"] = tracer.layer_totals("sources", q_span)
                    row["fenl_s"], row["fenl_calls"] = tracer.layer_totals("fenl", q_span)
                    for rec in records:
                        qfr_fh.write(json.dumps(rec, default=str) + "\n")
        finally:
            inst.remove()
        tracer.write(os.path.join(out_dir, "suite_spans.json"))
        with open(os.path.join(out_dir, "suite_layers.json"), "w") as fh:
            json.dump(per_query, fh, indent=1)
        return walls, _layer_metrics(per_query)


def _phases(qe) -> dict[str, int]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().durationMs())
    return out


def _exec_summary(records: list[dict]) -> dict:
    acts = [r for r in records if r.get("type") == "activity"]

    def total(key: str) -> int:
        return sum(int(a["metrics"][key]["value"]) for a in acts if key in a["metrics"])

    def op_ms(a) -> float:
        m = a["metrics"]
        # operator self time as Spark reports it: codegen pipelines and
        # Python operators in ms, shuffle writes in ns
        ms = sum(float(m[k]["value"]) for k in ("pipelineTime", "pythonTotalTime", "sortTime",
                                               "aggTime", "buildTime", "scanTime") if k in m)
        return ms + float(m.get("shuffleWriteTime", {"value": 0})["value"]) / 1e6

    top = sorted(acts, key=op_ms, reverse=True)[:3]
    return {
        "shuffle_bytes": total("shuffleBytesWritten"),
        "spill_bytes": total("spillSize"),
        "python_ms": total("pythonTotalTime"),
        "top_ops": [{"label": a["label"], "ms": round(op_ms(a), 3)} for a in top],
    }


def _layer_metrics(per_query: dict[str, dict]) -> dict[str, float]:
    rows = per_query.values()

    def s(key):
        return float(sum(r[key] for r in rows))

    return {
        "entry.build_s": s("build_s"),
        "entry.py4j_calls": s("py4j_calls"),
        "entry.eager_jobs": s("eager_jobs"),
        "sources.read_s": s("sources_s"),
        "sources.read_calls": s("sources_calls"),
        "fenl.compile_s": s("fenl_s"),
        "fenl.calls": s("fenl_calls"),
        "catalyst.analysis_ms": float(sum(r["phases_ms"].get("analysis", 0) for r in rows)),
        "catalyst.optimization_ms": float(sum(r["phases_ms"].get("optimization", 0) for r in rows)),
        "catalyst.planning_ms": float(sum(r["phases_ms"].get("planning", 0) for r in rows)),
        "exec.s": s("exec_s"),
        "exec.shuffle_bytes": s("shuffle_bytes"),
        "exec.spill_bytes": s("spill_bytes"),
        "exec.python_ms": s("python_ms"),
    }
