"""Benchmark command line for the repository.

    python3 perfbench/run.py --workload cardano_etl --seed 1 --seconds 10 --trace 0

Runs one workload (see ``BENCHMARK.json``) against the ``cardano_spark``
package of the checkout this file sits in, checks its outputs, prints
a short report and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones, from spans recorded around
the package's public functions, and the spans are written to
``.bench_work/traces/``.

Everything a run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload name -> module in this directory
WORKLOADS = {"cardano_etl": "etl", "corpus_analytics": "corpus_analytics"}


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples above it, as
    (percentile, value); None when there are too few samples."""
    n = len(samples)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "cardano_spark")):
        print(f"no cardano_spark package beside {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    from harness import RssSampler, configure_env, median, start_session, stop_session
    from tracer import Tracer

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    cpus = configure_env(ROOT, HERE, work)
    workload = importlib.import_module(WORKLOADS[args.workload])
    trace_path = None
    try:
        with RssSampler() as rss:
            if hasattr(workload, "prepare"):
                workload.prepare(work, args.seed)
            t_session = time.perf_counter()
            spark = start_session(work)
            try:
                tracer = Tracer(spark.sparkContext) if args.trace else None
                rec = workload.run(spark, args.seed, args.seconds, work, cpus, tracer, t_session)
                if tracer is not None:
                    tracer.unpatch()
                    traces = os.path.join(ROOT, ".bench_work", "traces")
                    os.makedirs(traces, exist_ok=True)
                    trace_path = os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl")
                    tracer.write(trace_path)
            finally:
                stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    end_to_end = {
        "setup_s": rec.setup_s,
        "cycle_s": median(rec.cycle_s),
        "cycle_cpu_s": median(rec.cycle_cpu_s),
    }
    rec.layers["process.peak_rss_mb"] = rss.peak_bytes / 2**20
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = rec.layers if args.trace else end_to_end
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }

    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} local[{cpus}]")
    for note in rec.notes:
        print(f"# {note}")
    print("# cycle_s each: " + " ".join(f"{t:.3f}" for t in rec.cycle_s))
    tail = tail_percentile(rec.query_s)
    print(
        f"# query samples={len(rec.query_s)} p50={median(rec.query_s):.4f} s tail="
        + (f"p{tail[0]:.1f} {tail[1]:.4f} s" if tail else "n/a (fewer than 11 samples)")
    )
    print(f"# failed_frac={rec.failed / max(rec.attempted, 1):.4f}")
    print(f"# peak_rss_mb={rss.peak_bytes / 2**20:.1f} (driver, JVM and Python workers)")
    if args.trace:
        print(f"# spans: {trace_path}")
        for line in tracer.breakdown():
            print(f"# self time per layer, {line}")
        print(
            f"# tracing overhead: {rec.layers.get('trace.overhead_s', 0.0):.3f} s per unit "
            "spent by the tracer itself; end to end it is trace.cycle_s here "
            "minus cycle_s of a --trace 0 run"
        )
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    result = {
        "correct": rec.failed == 0,
        "attempted": max(rec.attempted, 1),
        "failed": rec.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
