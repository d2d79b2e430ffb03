#!/usr/bin/env python3
"""Benchmark of record for the defi-spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Inputs are generated from ``--seed`` into a
scratch directory under ``.perfbench/`` (removed at exit).  One Spark
session at ``local[<cpus>]`` in this process serves a closed loop with one
client: each operation starts after the previous one ends.

Set-up is the time from process start to the first timed operation, less
input generation: interpreter and imports, JVM launch and session start,
engine import, and the workload's untimed warm-up pass, which also starts
the Python workers.

``--trace 0`` measures the end-to-end metrics named in BENCHMARK.json over
a number of operations that the workload derives from ``--seconds`` alone,
sized to take about that long on a 4-core host; a fixed count keeps the
tail's percentile the same on a fast host and a slow one.
``--trace 1`` runs a short pass three times, each in a fresh session:
untraced, then traced with the JSON event log and per-operation job groups
on (and the tail phase), then untraced again.  It prints the per-layer
metrics of the traced pass plus the tracing overhead: its summed operation
latency against the mean of the two untraced passes.  Every operation's
output is checked after the run; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import common  # noqa: E402  (after the path insert; starts nothing)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def timed_loop(wl, spark, n_ops: int, tracer, tail: bool = True) -> dict:
    """Closed loop of ``n_ops`` operations, then the workload's tail phase,
    if any, inside the same timed region."""
    lat: list[float] = []
    units = attempted = 0
    start = time.perf_counter()
    for i in range(n_ops):
        t0 = time.perf_counter()
        attempted += 1
        try:
            units += wl.op(spark, i, tracer)
            lat.append(time.perf_counter() - t0)
        except Exception:  # a failed operation is counted, not fatal
            wl.failures.append(f"op {i}: {traceback.format_exc(limit=3)}")
    tail_phase = getattr(wl, "tail_phase", None)
    tail_s = 0.0
    if tail and tail_phase is not None:
        attempted += 1
        t0 = time.perf_counter()
        try:
            units += tail_phase(spark, tracer)
        except Exception:  # a failed operation is counted, not fatal
            wl.failures.append(f"tail phase: {traceback.format_exc(limit=3)}")
        tail_s = time.perf_counter() - t0
    return {"elapsed": time.perf_counter() - start, "latencies": lat, "units": units,
            "ops": len(lat), "attempted": attempted, "tail_s": tail_s}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = common.ROOT
    if not (root / common.PACKAGE / "__init__.py").is_file() or not (root / "__spark_entry__.py").is_file():
        return _fail(f"engine package not found under {root}; run from a full checkout")
    spec = json.loads((root / "BENCHMARK.json").read_text())

    from wl_analytics import AnalyticsApi
    from wl_ingest import Ingest

    workloads = {w.name: w for w in (AnalyticsApi, Ingest)}
    if args.workload not in workloads:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")

    work = root / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "load1_start": common.load1(), "cpus": common.host_cpus(),
            "driver_memory_mb": common.driver_memory_mb(),
            "unset_engine_env": common.scrub_engine_env()}
    common.prepare_process_env(work)
    sessions = common.Sessions(work)
    try:
        wl = workloads[args.workload](work, args.seed)
        t = time.perf_counter()
        wl.generate()
        info["generate_s"] = time.perf_counter() - t
        # peak RSS covers the program's work only: not the input generation
        # before it, nor the output checks after it
        with common.RssSampler() as rss:
            sessions.setup()
            info["session_ready_s"] = common.since_process_start() - info["generate_s"]
            untimed_ops = wl.untimed_pass(sessions.spark)
            setup_s = common.since_process_start() - info["generate_s"]
            if args.trace:
                # untraced, traced, untraced, each pass in a fresh session.
                # The JVM keeps warming from one session to the next, so the
                # traced pass is compared with the mean of the two around it.
                log_dir = work / "eventlog"

                def fresh_pass(event_log_dir=None):
                    sessions.setup(event_log_dir)
                    tracer = common.Tracer(sessions.spark if event_log_dir else None)
                    return tracer, timed_loop(wl, sessions.spark, wl.trace_ops, tracer,
                                              tail=event_log_dir is not None)

                _, before = fresh_pass()
                tracer, traced = fresh_pass(log_dir)
                _, after = fresh_pass()
                runs = [before, traced, after]
            else:
                run = timed_loop(wl, sessions.spark, wl.timed_ops(args.seconds), common.Tracer())
                runs = [run]
            sessions.stop()
        peak_rss_mb = rss.peak_mb
        if args.trace:
            import eventlog

            groups = eventlog.parse(eventlog.find_log(log_dir))
            layer = {m["name"]: 0.0 for m in spec["per_layer"]}
            layer.update(wl.per_layer(tracer, groups, traced))
        wl.verify()
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)

    attempted = untimed_ops + sum(r["attempted"] for r in runs)
    failed = len(wl.failures)
    info.update({"load1_end": common.load1(), "unit": wl.unit, "failures": wl.failures[:20]})
    if args.trace:
        # every pass runs the same operations: compare summed latency, since
        # the median of one pass of unlike operations jumps between them
        around = (sum(before["latencies"]) + sum(after["latencies"])) / 2
        layer["trace.overhead_frac"] = sum(traced["latencies"]) / around - 1.0
        info["pass_latencies_s"] = {
            name: [round(x, 3) for x in r["latencies"]]
            for name, r in (("untraced_before", before), ("traced", traced),
                            ("untraced_after", after))}
        values, wanted = layer, spec["per_layer"]
    else:
        lat = common.latency_summary(run["latencies"])
        info.update({"ops": run["ops"], "timed_s": run["elapsed"], "tail_s": run["tail_s"],
                     "units": run["units"],
                     "latency_n": lat["n"], "latency_tail_pct": lat["tail_pct"],
                     "latency_tail_beyond": lat["tail_beyond"],
                     "latencies_s": [round(x, 3) for x in run["latencies"]]})
        values = {"setup_s": setup_s,
                  "ops_per_s": run["units"] / run["elapsed"],
                  "latency_p50_s": lat["p50"],
                  "latency_tail_s": lat["tail"],
                  "peak_rss_mb": peak_rss_mb}
        wanted = spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        return _fail(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print("# info " + json.dumps(info, default=str))
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
