#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload iterative_builders --seed 1 --seconds 10 --trace 0

Runs one workload against the package in the checkout that holds this
file and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, taken from a separate,
traced pass (spans are written to ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from harness import (  # noqa: E402
    OUT_DIR,
    ROOT,
    Ledger,
    MemorySampler,
    Tracer,
    WorkDir,
    median,
    prepare_environment,
    shutdown,
    start_session,
)

#: set-up (session start and input generation) is repeated and its median
#: reported; each repetition ends the previous JVM and launches its own, as
#: every real start does
SETUP_REPEATS = 2


class Context:
    """What a workload's ``measure`` gets: the session, the time to
    measure for, and the tracing tools."""

    def __init__(self, spark, args, tracer):
        self.spark = spark
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = tracer
        self.ledger = Ledger(spark)

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


#: workload name -> class in the module of the same name
WORKLOADS = {
    "iterative_builders": "IterativeBuilders",
    "stream_merge": "StreamMerge",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=os.cpu_count() or 1,
                   help="local[N] parallelism (default: all cores)")
    p.add_argument("--tiny", action="store_true", help="smallest inputs, for the smoke test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks below, which stop the
    # session and its processes and remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "nifi_minifi_cpp_spark" / "__init__.py").is_file() or not spec_path.is_file():
        Context.log(f"no nifi_minifi_cpp_spark package or BENCHMARK.json under {ROOT}")
        return 2
    sys.path.insert(0, str(ROOT))
    spec = json.loads(spec_path.read_text())
    if args.workload not in WORKLOADS:
        Context.log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    module = importlib.import_module(args.workload)
    workload = getattr(module, WORKLOADS[args.workload])(args.tiny)
    tracer = Tracer(bool(args.trace))

    spark = None
    setups = []
    with WorkDir() as work, MemorySampler() as mem:
        prepare_environment(work)
        try:
            for i in range(SETUP_REPEATS):
                if spark is not None:
                    shutdown(spark)
                    spark = None
                t0 = time.perf_counter()
                with tracer.span("session.start", trace=f"setup-{i}"):
                    spark = start_session(args.cores)
                t1 = time.perf_counter()
                with tracer.span("inputs.generate", trace=f"setup-{i}"):
                    workload.generate(args.seed, work / "inputs")
                t2 = time.perf_counter()
                setups.append((t1 - t0, t2 - t1, t2 - t0))
                Context.log(f"setup {i}: start {t1 - t0:.2f}s inputs {t2 - t1:.2f}s")
            t0 = time.perf_counter()
            result = workload.measure(Context(spark, args, tracer))
            Context.log(f"measure: {time.perf_counter() - t0:.2f}s")
        finally:
            shutdown(spark)
        peak_pss_mb = mem.peak_mb

    if args.trace:
        tracer.write(OUT_DIR / f"spans-{args.workload}-seed{args.seed}.json")

    values = {
        "setup_s": median(s[2] for s in setups),
        "wall_s": result["wall_s"],
        "latency_p50_ms": result["latency_p50_ms"],
    }
    layers = dict(result["layers"])
    layers.update(
        {
            "session.start_s": median(s[0] for s in setups),
            "inputs.generate_s": median(s[1] for s in setups),
            "session.warmup_s": result["warmup_s"],
            "peak_pss_mb": peak_pss_mb,
            "latency_p95_ms": result["latency_p95_ms"],
            "failed_ops_ratio": result["failed"] / result["attempted"],
        }
    )
    if args.trace:
        wanted, source = spec["per_layer"], layers
    else:
        wanted, source = spec["end_to_end"], values
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
