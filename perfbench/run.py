"""Layered benchmark of kaskada_spark on the host it runs on.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload suite --seed 1 --seconds 22 --trace 0

Workloads: ``suite`` (contract queries against their DuckDB twins),
``stream_live`` (many small micro-batches through the streaming
machines), ``stream_backfill`` (few large micro-batches, long buffers),
and ``smoke`` (a self-check of all three at toy size, a few minutes).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
``metrics`` holds the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the per-layer ones, from a traced pass that follows an
untraced one. The lines before it name the same numbers in the
workload's own terms. Every run writes its full result, stamped with
host facts and versions, under ``.perfbench/results/``, and a traced
run writes its spans and flight records next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("suite", "stream_live", "stream_backfill")


@dataclass
class Context:
    spark: object
    seed: int
    seconds: int
    work: str
    cpus: int
    trace_dir: str


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metric_block(values: dict[str, float], specs: list[dict], default=None) -> dict:
    """Metrics of ``specs`` with their units. With a ``default``, a metric
    the workload has no layer for reads as that value."""
    return {
        m["name"]: {"value": float(values.get(m["name"], default)), "unit": m["unit"]}
        for m in specs
    }


def run_suite(ctx: Context, trace: bool, all_queries: bool) -> dict:
    import host
    from suite import Suite

    s = Suite(ctx, all_queries=all_queries)
    s.setup()
    res: dict = {"failures": s.failures, "attempted": len(s.names), "table_rows": s.rows}
    res["setup_done"] = (time.perf_counter(), host.tree_cpu_s())
    t = s.measure()
    best = t.best_s()
    vals = sorted(best.values())
    res["e2e"] = {"cpu_s": statistics.fmean(t.pass_cpu_s)}
    res["detail"] = {
        "suite_s": sum(vals),
        "query_p50_s": statistics.median(vals),
        "queries_timed": len(vals),
        "passes": len(t.pass_cpu_s),
        "pass_cpu_s": t.pass_cpu_s,
        "steal_ticks": t.steal_ticks,
        "best_s": best,
        "wall_s": t.wall_s,
    }
    if trace:
        walls, layers = s.traced(ctx.trace_dir)
        layers["trace.overhead_s"] = sum(walls.values()) - sum(vals)
        res["layers"] = layers
    return res


def run_streams(ctx: Context, workload: str, trace: bool) -> dict:
    import host
    import streams as st

    s = st.Streams(ctx, workload)
    s.setup()
    res: dict = {"attempted": len(s.wl.machines)}
    res["setup_done"] = (time.perf_counter(), host.tree_cpu_s())
    steal0, cpu0 = host.steal_ticks(), host.tree_cpu_s()
    drains = s.measure()
    cpu_s, steal = host.tree_cpu_s() - cpu0, host.steal_ticks() - steal0
    s.check(drains)
    res["failures"] = s.failures
    # a machine whose output mismatches still did its work, so its timing
    # counts; only a machine whose query died has none
    summary = st.summarize(s.files, drains)
    res["e2e"] = {"cpu_s": cpu_s}
    res["detail"] = {**summary, "steal_ticks": steal, "shape": s.wl.shape.__dict__}
    if trace:
        traced = s.traced(ctx.trace_dir)
        layers = st.layer_metrics(traced)
        layers["trace.overhead_s"] = (sum(d.wall_s for d in traced)
                                      - sum(d.wall_s for d in drains))
        res["layers"] = layers
    return res


def run_workload(workload: str, seed: int, seconds: int, trace: bool,
                 all_queries: bool = False) -> dict:
    import host

    cpus, mem_mb = host.nproc(), host.driver_memory_mb()
    work = os.path.join(OUT, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host.configure_env(ROOT, work, cpus, mem_mb)
    t0, cpu0 = time.perf_counter(), host.tree_cpu_s()
    spark = host.start_spark(work, cpus)
    try:
        ctx = Context(spark, seed, seconds, work, cpus,
                      os.path.join(OUT, "trace", f"{workload}-seed{seed}"))
        if trace:
            shutil.rmtree(ctx.trace_dir, ignore_errors=True)
            os.makedirs(ctx.trace_dir)
        if workload == "suite":
            res = run_suite(ctx, trace, all_queries)
        else:
            res = run_streams(ctx, workload, trace)
        wall, cpu = res.pop("setup_done")
        res["e2e"]["setup_s"] = cpu - cpu0
        res["detail"]["setup_wall_s"] = wall - t0
        res["e2e"]["peak_rss_mb"] = host.peak_rss_mb()
    finally:
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    res["host"] = host.host_facts(ROOT, cpus, mem_mb)
    return res


def _emit(workload: str, seed: int, trace: bool, res: dict, spec: dict) -> dict:
    attempted = res["attempted"]
    failed = len(res["failures"])
    res["e2e"]["ok_ratio"] = (attempted - failed) / attempted
    if trace:
        # a layer the workload never enters (a query layer on a stream
        # workload, a machine the workload does not drain) reads 0
        metrics = _metric_block(res["layers"], spec["per_layer"], default=0.0)
    else:
        metrics = _metric_block(res["e2e"], spec["end_to_end"])
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    path = os.path.join(OUT, "results", f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(path, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "trace": trace, **res, **out},
                  fh, indent=1, default=str)
    for name, err in res["failures"].items():
        print(f"FAILED {workload}/{name}: {err}")
    h = res["host"]
    print(f"host: nproc={h['nproc']} mem_total_mb={h['mem_total_mb']} "
          f"driver_memory_mb={h['driver_memory_mb']} spark={h['spark']} "
          f"pyarrow={h['pyarrow']} pandas={h['pandas']} commit={h['commit']} "
          f"source_sha256={h['source_sha256']}")
    d = res["detail"]
    if workload == "suite":
        print(f"suite_s={d['suite_s']:.3f} s  query_p50_s={d['query_p50_s']:.4f} s  "
              f"(queries timed: {d['queries_timed']}, best of {d['passes']} passes)  "
              f"cpu_s={res['e2e']['cpu_s']:.2f} s per pass (mean of {d['passes']})")
    else:
        print(f"events_per_s={d['events_per_s']:.1f} 1/s  batch_p50_ms={d['batch_p50_ms']:.1f} ms  "
              f"batch_p90_ms={d['batch_p90_ms']:.1f} ms  (batch samples: {d['batch_samples']})  "
              f"work_s={d['work_s']:.3f} s  cpu_s={res['e2e']['cpu_s']:.2f} s  "
              f"drain_s={ {m: round(v, 3) for m, v in d['drain_s'].items()} }")
    print(f"steal_ticks={d['steal_ticks']} (CPU time the hypervisor gave to others while timing)")
    print(f"fail_ratio={failed / attempted:.4f}  peak_rss_mb={res['e2e']['peak_rss_mb']:.1f} MB  "
          f"setup_s={res['e2e']['setup_s']:.2f} s CPU (setup_wall_s={d['setup_wall_s']:.3f} s)")
    if trace:
        print(f"tracing overhead: {res['layers']['trace.overhead_s']:.3f} s "
              f"(traced pass minus untraced pass); artifacts in {os.path.relpath(OUT, ROOT)}/trace/")
    print(f"result: {os.path.relpath(path, ROOT)}")
    return out


def smoke(spec: dict) -> int:
    """Toy-sized traced run of every workload, asserting that each
    workload emits every end-to-end metric of BENCHMARK.json, that some
    workload emits each per-layer one (units come from BENCHMARK.json),
    and that the outputs check out."""
    import streams
    import suite

    suite.SUITE, suite.SF = suite.SUITE[:3], 0.001
    live, backfill = streams.WORKLOADS["stream_live"], streams.WORKLOADS["stream_backfill"]
    streams.WORKLOADS = {
        "stream_live": lambda s: streams.reshape(live(s), batches=3),
        "stream_backfill": lambda s: streams.reshape(
            backfill(s), primary_per_batch=400, foreign_per_batch=100),
    }
    bad, layers_seen = [], set()
    for w in WORKLOADS:
        res = run_workload(w, seed=0, seconds=4, trace=True)
        out = _emit(w, 0, True, res, spec)
        layers_seen |= set(res["layers"])
        bad += [f"{w}: end-to-end metric {m['name']} not emitted"
                for m in spec["end_to_end"] if m["name"] not in res["e2e"]]
        if not out["correct"]:
            bad.append(f"{w}: outputs incorrect")
    bad += [f"per-layer metric {m['name']} emitted by no workload"
            for m in spec["per_layer"] if m["name"] not in layers_seen]
    for b in bad:
        print("SMOKE:", b)
    print("SMOKE OK" if not bad else f"SMOKE FAILED ({len(bad)})")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("smoke",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all-queries", action="store_true",
                    help="suite: time every queries() entry, not the fixed subset")
    args = ap.parse_args(argv)
    missing = [p for p in ("__spark_entry__.py", "kaskada_spark", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = _spec()
    if args.workload == "smoke":
        return smoke(spec)
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                       args.all_queries)
    out = _emit(args.workload, args.seed, bool(args.trace), res, spec)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
