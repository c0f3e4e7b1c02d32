"""Benchmark entry point.

    python3 lakebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload from a fresh driver process and prints, as the last line
of standard output, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, measured with no spans;
with ``--trace 1`` they are the per-layer ones, from spans the benchmark
puts around the package's functions. The line before it is the full record
(ops, drift, host facts, problems, per-layer values), also kept under
``lakebench/.work/records/`` for ``spread.py``.

Each workload runs a fixed number of ops, sized so a run takes about
``--seconds`` on a 4-core host; ``--seconds`` is recorded, not obeyed,
because a timed loop lets a faster build run more (and later, slower) ops.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import spans  # noqa: E402

WORKLOADS = {"ingest_tick": "ingest", "headline_queries": "queries"}
END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "warm_op_p50_s": "s",
    "warm_geomean_s": "s",
    "cold_op_cpu_s": "s",
    "warm_op_cpu_s": "s",
    "peak_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="self-test: corrupt one output before the checks")
    args = ap.parse_args(argv)

    harness.configure_env()
    host = harness.HostFacts()
    # set-up is timed before any workload code imports the package
    spark, setup = harness.start_session()
    mod = importlib.import_module(WORKLOADS[args.workload])
    phases = {}
    t0 = time.perf_counter()
    prepared = mod.prepare(args.seed)
    phases["prepare_s"] = time.perf_counter() - t0
    tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
    if args.trace:
        mod.install_spans(tracer)
    t0 = time.perf_counter()
    try:
        result = mod.run(spark, tracer, prepared)
    finally:
        tracer.restore()
    phases["ops_s"] = time.perf_counter() - t0
    # before the checks, whose oracle and fixture reads are not the program's
    rss = {"jvm": harness.jvm_peak_rss_mb(spark), "python": harness.python_peak_rss_mb()}
    t0 = time.perf_counter()
    problems = mod.check(spark, prepared, result, args.plant_fault)
    phases["check_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    leaked = harness.stop_session(spark)
    phases["stop_s"] = time.perf_counter() - t0

    e2e = mod.end_to_end(result)
    e2e["setup_s"] = setup["import_s"] + setup["start_s"]
    e2e["peak_rss_mb"] = rss["jvm"] + rss["python"]
    failed = sum(1 for p in problems if p)
    if leaked:
        failed += 1
        problems.append([f"{leaked} processes outlived the run"])

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "finished_at": time.time(),
        "host": host.finish(),
        "setup": setup,
        "phases": phases,
        "peak_rss_mb": rss,
        "end_to_end": e2e,
        "ops": [{k: v for k, v in op.items() if k != "span"} for op in result["ops"]],
        "problems": [p for p in problems if p],
    }
    if "drift" in result:
        record["drift"] = result["drift"]
    if args.trace:
        layer = {f"session.{k}": v for k, v in setup.items()}
        cores = harness.nproc()
        layer.update(mod.per_layer(result, tracer.spans, cores))
        units = _per_layer_units()
        # layers a workload does not reach read 0
        metrics = {n: {"value": layer.get(n, 0), "unit": u} for n, u in units.items()}
        record["per_layer"] = layer
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}

    os.makedirs(os.path.join(harness.WORK, "records"), exist_ok=True)
    path = os.path.join(
        harness.WORK, "records",
        f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}.json",
    )
    with open(path, "w") as f:
        json.dump(record, f, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
