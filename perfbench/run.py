#!/usr/bin/env python3
"""Benchmark of the CDC engine and its query registry, driven from outside
the package.

    python3 perfbench/run.py --workload ingest_steady --seed 1 --seconds 20 --trace 0

Runs one workload in a fresh Spark session of fixed shape, checks its
outputs, and prints as the last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing and the Spark UI
off; with ``--trace 1`` they are the per-layer ones from a traced run.
Inputs are generated from ``--seed`` and cached under ``.perfbench_cache/``
in the checkout, which is also the only place the run writes to.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import statistics
import sys
import time
import uuid

import harness

WORKLOADS = ("ingest_steady", "query_suite")


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(harness.ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _untraced_dir(args):
    """Where untraced runs keep their end-to-end figures, one file per
    seed: a directory per workload, --seconds and source code."""
    code = harness.source_digest("activedata_etl_spark", "perfbench")
    return harness.CACHE / "untraced" / f"{args.workload}-t{args.seconds}-{code}"


def _untraced_throughput(args) -> float | None:
    """End-to-end throughput of the same workload, --seconds and code with
    tracing off, from this checkout's untraced runs: the same seed's if
    there is one, else the median over the other seeds; None if there are
    none.  No fresh untraced run is started here: with one, a traced
    ingest_steady run took about 190 s on a 4-core box instead of 115 s."""
    d = _untraced_dir(args)
    same = d / f"s{args.seed}.json"
    paths = [same] if same.exists() else sorted(d.glob("s*.json"))
    values = []
    for path in paths:
        with open(path) as f:
            values.append(json.load(f)["throughput_per_s"])
    return statistics.median(values) if values else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not harness.engine_present():
        print(f"activedata_etl_spark is not in {harness.ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    harness.prepare_env()
    sys.path.insert(0, str(harness.ROOT))
    traced = bool(args.trace)
    if traced:
        untraced = _untraced_throughput(args)
        if untraced is None:
            print("no untraced run of this workload, --seconds and code in this "
                  "checkout: trace.overhead_ratio reads 0", file=sys.stderr)

    import ingest
    import queries
    from tracing import Tracer

    workload = {"ingest_steady": ingest, "query_suite": queries}[args.workload]
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    tracer = Tracer(run_id, traced)
    inputs = workload.prepare(args.seed, args.seconds)
    # the sampler scans /proc four times a second; untraced runs do not
    # report peak RSS, so they do not pay for it
    with harness.RssSampler() if traced else contextlib.nullcontext() as rss:
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = harness.start_session(traced)
            session_s = time.perf_counter() - t0
        try:
            res = workload.run(spark, tracer, inputs, session_s)
        finally:
            harness.stop_session(spark)

    if traced:
        tracer.write(str(harness.CACHE / "traces" / f"{run_id}.jsonl"))
        units = _units("per_layer")
        values = dict.fromkeys(units, 0.0)
        values.update(res["layers"])
        values["session.start_s"] = session_s
        values["process.peak_rss_mb"] = rss.peak_mb
        values["trace.overhead_ratio"] = (untraced / res["e2e"]["throughput_per_s"]
                                          if untraced else 0.0)
    else:
        units = _units("end_to_end")
        values = res["e2e"]
        d = _untraced_dir(args)
        d.mkdir(parents=True, exist_ok=True)
        with open(d / f"s{args.seed}.json", "w") as f:
            json.dump(values, f)

    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
