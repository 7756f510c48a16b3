"""``stream_live`` and ``stream_backfill``: the Python streaming machines
drained from parquet files, one file per micro-batch per stream
(``availableNow``), each into an ``ExactlyOnceSink``.

Each machine's output is checked against its batch twin over the same
files: every emitted row must equal the twin's row, and every twin row
at or below the final watermark must have been emitted.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

from gen import StreamShape, write_streams
from tracing import Instrumentation, Tracer, job_group

AGG_FIELDS = (
    "n: count(Input.value), total: sum(Input.value), hi: max(Input.value), "
    "last_type: last(Input.event_type)"
)


@dataclass(frozen=True)
class Workload:
    shape: StreamShape
    machines: tuple[str, ...]
    watermark: str
    #: the aggregation record drained by ``agg``
    agg_query: str
    #: shift_by delta of ``shift``, as a Spark interval literal
    shift: str | None = None


def _live(seconds: int) -> Workload:
    # ~1.5k entities and 100 events per trigger: per-batch costs
    # dominate. The only workload whose length follows ``--seconds``.
    return Workload(
        shape=StreamShape(entities=1500, batches=max(3, seconds * 2 // 3),
                          primary_per_batch=100, foreign_per_batch=25,
                          batch_span_s=60),
        machines=("agg", "lookup"),
        watermark="0 seconds",
        agg_query="{ " + AGG_FIELDS + " }",
    )


def _backfill(seconds: int) -> Workload:
    # few entities, larger batches, and a watermark delay spanning two
    # batches of event time: every entity buffers its last two batches'
    # rows (~40) across triggers. Fixed size: ``seconds`` is not used.
    return Workload(
        shape=StreamShape(entities=48, batches=3,
                          primary_per_batch=1_000, foreign_per_batch=250,
                          batch_span_s=12 * 3600),
        machines=("agg", "shift", "lookup"),
        watermark="25 hours",
        shift="interval 6 hours",
        agg_query="{ " + AGG_FIELDS
        + ", n_day: count(Input.value, window = since(daily())) }",
    )


WORKLOADS = {"stream_live": _live, "stream_backfill": _backfill}


def reshape(wl: Workload, **shape) -> Workload:
    return replace(wl, shape=replace(wl.shape, **shape))


# ----------------------------------------------------------------------
# machines: streaming build, batch twin, and how to compare them
# ----------------------------------------------------------------------
@dataclass(frozen=True)
class Check:
    keys: tuple[str, ...]
    #: column whose value must be <= the final watermark for a twin row
    #: to be required in the output
    settle: str


def build_stream(machine: str, wl: Workload, p, f):
    from pyspark.sql import functions as F

    if machine == "agg":
        from kaskada_spark.fenl.materialize import materialize_fenl

        return materialize_fenl(wl.agg_query, p, watermark=wl.watermark)
    if machine == "lookup":
        from kaskada_spark.streaming.join import asof_lookup_stream

        return asof_lookup_stream(p, f, key=F.col("_key"), values=["o_totalprice"],
                                  watermark=wl.watermark)
    if machine == "shift":
        from kaskada_spark.streaming.shift import shift_by_stream

        return shift_by_stream(p, F.expr(wl.shift), watermark=wl.watermark)
    raise ValueError(machine)


def build_twin(machine: str, wl: Workload, p_tl, f_tl):
    from pyspark.sql import functions as F

    if machine == "agg":
        from kaskada_spark.fenl import fenl

        return fenl(wl.agg_query, {"Input": p_tl}), Check(("_key", "_time", "_subsort"), "_time")
    if machine == "lookup":
        out = p_tl.lookup(f_tl, key=F.col("_key"), values=["o_totalprice"]).df
        return out, Check(("_key", "_time", "_subsort"), "_time")
    if machine == "shift":
        return p_tl.shift_by(F.expr(wl.shift)).df, Check(("_key", "_subsort"), "_time")
    raise ValueError(machine)


def _same(x, y) -> bool:
    xn = x is None or (isinstance(x, float) and math.isnan(x))
    yn = y is None or (isinstance(y, float) and math.isnan(y))
    if xn or yn:
        return xn and yn
    if isinstance(x, float) or isinstance(y, float):
        # running sums may add in another order than the batch window:
        # allow float64 rounding, nothing more
        return math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9)
    return x == y


def compare(got_df, twin_df, check: Check, watermark) -> str | None:
    """None when the streaming output agrees with the batch twin."""
    # the streaming output may carry payload columns the twin drops
    cols = [c for c in got_df.columns if c in twin_df.columns]
    twin = {tuple(r[k] for k in check.keys): r for r in twin_df.select(*cols).collect()}
    got = {}
    for r in got_df.collect():
        k = tuple(r[c] for c in check.keys)
        if k in got:
            return f"row {k} emitted twice"
        got[k] = r
    for k, r in got.items():
        want = twin.get(k)
        if want is None:
            return f"row {k} not in the batch twin"
        for c in cols:
            if not _same(r[c], want[c]):
                return f"row {k} column {c}: {r[c]!r} != {want[c]!r}"
    missing = [k for k, r in twin.items()
               if k not in got and r[check.settle] is not None and r[check.settle] <= watermark]
    if missing:
        return f"{len(missing)} settled rows missing, e.g. {missing[0]}"
    if not got:
        return "no rows emitted"
    return None


# ----------------------------------------------------------------------
# draining
# ----------------------------------------------------------------------
@dataclass
class Drain:
    machine: str
    wall_s: float
    progress: list[dict]
    out_dir: str
    sink_calls: list[tuple[float, int]] = field(default_factory=list)
    batch_ops: list[dict] = field(default_factory=list)


class _ProbedSink:
    """foreachBatch wrapper of the traced run: spans each call, counts
    the jobs the sink starts, and records the batch's flight record."""

    def __init__(self, sink, spark, tracer, qfr_fh, drain, parent):
        self.sink, self.spark, self.tracer = sink, spark, tracer
        self.machine, self.qfr_fh, self.drain = drain.machine, qfr_fh, drain
        self.parent = parent

    def __call__(self, df, batch_id):
        from kaskada_spark.qfr import streaming_flight_record

        with self.tracer.span("foreachBatch", parent=self.parent, machine=self.machine,
                              batch=batch_id) as sp:
            with job_group(self.spark, f"perfbench-sink-{self.machine}-{batch_id}") as jobs:
                self.sink(df, batch_id)
                n_jobs = jobs()
        self.drain.sink_calls.append((sp.dur * 1000.0, n_jobs))
        query = next(q for q in self.spark.streams.active if q.name == self.machine)
        records = streaming_flight_record(query, request_id=f"{self.machine}-{batch_id}")
        ops = {}
        for rec in records:
            self.qfr_fh.write(json.dumps(rec, default=str) + "\n")
            if rec.get("label") == "FlatMapGroupsInPandasWithState":
                for k, v in rec["metrics"].items():
                    ops[k] = ops.get(k, 0) + int(v["value"])
        self.drain.batch_ops.append(ops)


class Streams:
    def __init__(self, ctx, workload: str):
        self.ctx = ctx
        self.wl = WORKLOADS[workload](ctx.seconds)
        self.dir = os.path.join(ctx.work, "streams")
        self.failures: dict[str, str] = {}

    def _read(self, d: str):
        spark = self.ctx.spark
        schema = spark.read.parquet(d).schema
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)

    def drain(self, machine: str, files, tag: str, probe=None) -> Drain | None:
        """Drain one machine from a fresh checkpoint into a fresh sink;
        None (and a recorded failure) when its query dies."""
        from kaskada_spark.sinks.exactly_once import ExactlyOnceSink

        base = os.path.join(self.dir, f"{tag}-{machine}")
        out = build_stream(machine, self.wl, self._read(files.primary_dir),
                           self._read(files.foreign_dir))
        sink = ExactlyOnceSink(os.path.join(base, "out"), time_col="_time")
        d = Drain(machine, 0.0, [], sink.out_dir)
        t0 = time.perf_counter()
        q = (
            out.writeStream.queryName(machine).outputMode("append")
            .option("checkpointLocation", os.path.join(base, "ck"))
            .foreachBatch(sink if probe is None else probe(sink, d))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        d.wall_s = time.perf_counter() - t0
        if q.exception() is not None:
            self.failures[machine] = str(q.exception())[:300]
            return None
        d.progress = [json.loads(p.json) for p in q.recentProgress]
        return d

    def drain_all(self, tag: str, probe=None, tracer=None) -> list[Drain]:
        """Drain every machine of the workload, one after another."""
        drains = []
        for m in self.wl.machines:
            if tracer is None:
                drains.append(self.drain(m, self.files, tag))
            else:
                with tracer.span("drain", machine=m) as sp:
                    # the probe is built (and sp read) before this iteration ends
                    drains.append(self.drain(
                        m, self.files, tag, lambda sink, d: probe(sink, d, sp.id)))
        return [d for d in drains if d is not None]

    # -- setup ------------------------------------------------------------
    def setup(self) -> None:
        self.files = write_streams(os.path.join(self.dir, "in"), self.ctx.seed, self.wl.shape)
        # warm-up: one small drain, so the first timed machine does not
        # also pay for JVM JIT, the first Python workers and codegen
        warm = write_streams(os.path.join(self.dir, "warm-in"), self.ctx.seed + 1,
                             replace(self.wl.shape, batches=1, primary_per_batch=20,
                                     foreign_per_batch=5))
        self.drain(self.wl.machines[0], warm, "warm")

    # -- timed drains -------------------------------------------------------
    def measure(self) -> list[Drain]:
        return self.drain_all("timed")

    # -- correctness, outside the timed path -----------------------------------
    def check(self, drains: list[Drain]) -> None:
        """Compare every drained machine with its batch twin, on one
        client thread per machine."""
        from kaskada_spark import Timeline

        spark = self.ctx.spark
        p_tl = Timeline(spark.read.parquet(self.files.primary_dir))
        f_tl = Timeline(spark.read.parquet(self.files.foreign_dir))

        def check(d: Drain) -> str | None:
            try:
                twin, check = build_twin(d.machine, self.wl, p_tl, f_tl)
                got = spark.read.parquet(d.out_dir + "/batch_id=*").drop("batch_id")
                return compare(got, twin, check, final_watermark(d.progress))
            except Exception as e:  # noqa: BLE001 - a failing check is a result
                return f"{type(e).__name__}: {str(e)[:300]}"

        with ThreadPoolExecutor(len(drains) or 1) as pool:
            for d, err in zip(drains, pool.map(check, drains)):
                if err:
                    self.failures[d.machine] = err

    # -- traced drains ----------------------------------------------------------
    def traced(self, out_dir: str) -> list[Drain]:
        from kaskada_spark.streaming.metrics import attach_metrics

        spark = self.ctx.spark
        tracer = Tracer()
        inst = Instrumentation(tracer)
        recorder = attach_metrics(spark, os.path.join(out_dir, "stream_metrics.jsonl"))
        drains = []
        inst.install()
        try:
            with open(os.path.join(out_dir, "stream_qfr.jsonl"), "w") as qfr_fh:
                def probe(sink, d, parent):
                    return _ProbedSink(sink, spark, tracer, qfr_fh, d, parent)

                drains = self.drain_all("traced", probe, tracer)
        finally:
            inst.remove()
            spark.streams.removeListener(recorder)
        tracer.write(os.path.join(out_dir, "stream_spans.json"))
        return drains


def final_watermark(progress: list[dict]) -> dt.datetime:
    """The last watermark the query reported, as a naive UTC datetime,
    the type collected timestamps have in this session."""
    wm = [p["eventTime"]["watermark"] for p in progress if "watermark" in p.get("eventTime", {})]
    return dt.datetime.strptime(wm[-1], "%Y-%m-%dT%H:%M:%S.%fZ")


def data_batches(d: Drain) -> list[dict]:
    """Progress of the micro-batches that read input (the last batch of
    an ``availableNow`` drain only moves the watermark)."""
    return [p for p in d.progress if p.get("numInputRows", 0) > 0]


def input_events(files, machine: str) -> int:
    """Events a machine reads: the primary stream, plus the foreign one
    for the two-input machine."""
    return files.primary_rows + (files.foreign_rows if machine == "lookup" else 0)


def summarize(files, drains: list[Drain]) -> dict:
    """End-to-end numbers of a set of drains."""
    lat = [p["durationMs"]["triggerExecution"] for d in drains for p in data_batches(d)]
    wall = sum(d.wall_s for d in drains)
    return {
        "work_s": wall,
        "events_per_s": sum(input_events(files, d.machine) for d in drains) / wall,
        "batch_p50_ms": statistics.median(lat),
        "batch_p90_ms": statistics.quantiles(lat, n=10)[8],
        "batch_samples": len(lat),
        "drain_s": {d.machine: d.wall_s for d in drains},
    }


def layer_metrics(drains: list[Drain]) -> dict[str, float]:
    """Per-layer numbers of the traced drains."""
    out: dict[str, float] = {}
    overhead, sink_ms, sink_jobs = [], [], []
    for d in drains:
        m = d.machine
        for p in data_batches(d):
            dur = p["durationMs"]
            overhead.append(dur["triggerExecution"] - dur.get("addBatch", 0))
        ops = [o for o in d.batch_ops if o]
        st = [p.get("stateOperators", []) for p in d.progress]
        out[f"stream.{m}.drain_s"] = d.wall_s
        out[f"stream.{m}.python_init_ms"] = float(statistics.median(
            [o.get("pythonBootTime", 0) + o.get("pythonInitTime", 0) for o in ops])) if ops else 0.0
        out[f"stream.{m}.python_total_ms"] = float(sum(o.get("pythonTotalTime", 0) for o in ops))
        # Spark reports no pythonDataSent for applyInPandasWithState; the
        # bytes coming back carry the output rows and the new state
        out[f"stream.{m}.python_bytes_received"] = float(
            sum(o.get("pythonDataReceived", 0) for o in ops))
        out[f"stream.{m}.state_commit_ms"] = float(statistics.median(
            [sum(s["commitTimeMs"] for s in ss) for ss in st if ss])) if any(st) else 0.0
        out[f"stream.{m}.state_update_ms"] = float(sum(s["allUpdatesTimeMs"] for ss in st for s in ss))
        out[f"stream.{m}.state_rows_max"] = float(max((sum(s["numRowsTotal"] for s in ss) for ss in st), default=0))
        out[f"stream.{m}.state_bytes_max"] = float(max((sum(s["memoryUsedBytes"] for s in ss) for ss in st), default=0))
        sink_ms += [c[0] for c in d.sink_calls]
        sink_jobs += [c[1] for c in d.sink_calls]
    out["stream.trigger_overhead_ms"] = float(statistics.median(overhead)) if overhead else 0.0
    out["sinks.call_ms"] = float(statistics.median(sink_ms)) if sink_ms else 0.0
    out["sinks.jobs_per_batch"] = float(statistics.median(sink_jobs)) if sink_jobs else 0.0
    return out
